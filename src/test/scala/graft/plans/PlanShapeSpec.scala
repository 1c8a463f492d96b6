package graft.plans

import graft.SparkSpec

/** Plan-shape regression guards: the scale posture this library claims
  * (broadcast dimension joins, pushed-down filters, anti-join skips,
  * map-side partial aggregation, no cartesian products) is asserted against
  * the OPTIMIZED physical plans, so a refactor that silently degrades a
  * plan fails here rather than in a 100 TB run. Shapes are checked at
  * sf0.001 — sizes differ at scale but the chosen strategies are the claim.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("q03 dimension join broadcasts (no shuffle join for small dims)") {
    val p = planOf("q03_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("q02 filter and projection reach the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters: [") && !p.matches("(?s).*PushedFilters: \\[\\].*"),
      p.take(800))
  }

  test("q06 incremental skip is a real anti-join") {
    val p = planOf("q06_anti_join")
    assert(p.contains("LeftAnti"), p.take(800))
  }

  test("q22 never sort-aggregates its HLL sketches") {
    // Folding the sketches and the multi-column exact distincts into ONE
    // agg plans through Expand into a sort-based aggregate that churns the
    // 16 KB HLL buffers per expanded row (measured 273 s vs 2.9 s at
    // sf0.1). The split-and-join formulation must keep the sketch side in
    // a hash aggregate.
    val p = planOf("q22_approx_distinct")
    assert(!p.contains("SortAggregate"), p.take(1200))
  }

  test("q01 aggregation is partial before the exchange (map-side combine)") {
    val p = planOf("q01_agg")
    // two HashAggregates around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    assert(p.contains("Exchange"))
  }

  test("t09 hot-shingle removal is a broadcast anti-join on the posting index") {
    // Round-5 adjudication: the 2.5x bench swing on this query was box
    // noise (r6 re-runs: 2.2-2.5 s at sf0.1, the r4 level, on identical
    // code). The intended shape is pinned here so a REAL plan change can
    // never hide behind noise again: hot shingles leave via a broadcast
    // anti-join (never a shuffle), the posting self-join is an equi-join
    // (never a cartesian), and the pair-count groupBy aggregates partially
    // map-side before its exchange.
    val p = planOf("t09_ngram_jaccard")
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // partial + final HashAggregate around the pair-count Exchange: the
    // posting self-join's output collapses before it crosses the wire
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("t11 brute-force ANN broadcasts the query side, never the corpus") {
    val p = planOf("t11_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  test("t24 custom operator plans as TopKPerKeyExec (no global sort)") {
    val p = planOf("t24_topk_plan")
    assert(p.contains("TopKPerKey"), p.take(800))
  }

  test("persisted-IVF query prunes non-probed cells at the scan (PartitionFilters)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("ivf-prune").toString
    graft.operators.Similarity.ivfBuild(emb, "vec_id", "embedding", nCells = 8, idx)
    val df = graft.operators.Similarity.ivfQuery(spark, idx,
      emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, nProbe = 3)
    val p = df.queryExecution.executedPlan.toString
    // the cells scan must carry a static partition filter on `cell` — the
    // whole point of the partitioned layout is reading nProbe/nCells of the
    // corpus; an empty PartitionFilters would be a silent full scan
    val scanLine = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains(s"cells")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cell"), p.take(1500))
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
  }

  test("ivfPqQuery: ADC scan prunes to probed cells AND reads codes without vectors") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val model = graft.operators.ProductQuantizer.train(emb, "embedding", 16, 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-plan").toString
    graft.operators.ProductQuantizer.ivfPqBuild(emb, "vec_id", "embedding", 8, model, dir)
    val df = graft.operators.ProductQuantizer.ivfPqQuery(spark, dir,
      emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, nProbe = 3)
    val p = df.queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("cells")).toVector
    assert(scans.nonEmpty, p.take(1500))
    // every cells scan is partition-pruned to the probed cells
    scans.foreach(l => assert(l.contains("PartitionFilters: [cell") &&
      !l.contains("PartitionFilters: []"), l))
    // the ADC-pool scan reads codes but NOT the 256-byte vector column —
    // that column-pruning is the 32x I/O claim of the layout
    val adcScan = scans.find(l => l.replace(" ", "").contains("codes:array"))
    assert(adcScan.isDefined, scans.mkString("\n"))
    assert(!adcScan.get.replace(" ", "").contains("cv:array"),
      s"ADC scan must not decode vectors:\n${adcScan.get}")
    assert(!p.contains("CartesianProduct"))
    // the RESIDUAL layout (the production gate config) keeps the exact
    // same three-shrinking-reads shape: the encoding changes what the
    // codes MEAN (per-cell anchors fold into the broadcast probe rows'
    // LUTs as plan literals), never what the scan reads
    val rdir = java.nio.file.Files.createTempDirectory("ivfpq-plan-res").toString
    graft.operators.ProductQuantizer.ivfPqBuildResidual(
      emb, "vec_id", "embedding", 8, 16, 16, rdir)
    val rp = graft.operators.ProductQuantizer.ivfPqQuery(spark, rdir,
        emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, nProbe = 3)
      .queryExecution.executedPlan.toString
    val rScans = rp.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("cells")).toVector
    assert(rScans.nonEmpty, rp.take(1500))
    rScans.foreach(l => assert(l.contains("PartitionFilters: [cell") &&
      !l.contains("PartitionFilters: []"), l))
    val rAdc = rScans.find(l => l.replace(" ", "").contains("codes:array"))
    assert(rAdc.isDefined, rScans.mkString("\n"))
    assert(!rAdc.get.replace(" ", "").contains("cv:array"),
      s"residual ADC scan must not decode vectors:\n${rAdc.get}")
    assert(!rp.contains("CartesianProduct"))
  }

  test("annQuery front door on a composed index: the serving plan IS the codes-only ADC shape (the hybrid dense pool's read)") {
    import spark.implicits._
    // the hybrid pools and the CLIs call Similarity.annQuery, which must
    // dispatch a composed layout to the ADC engine — this pins the plan
    // any such caller gets: codes read, vectors NOT read in the pool
    // scan, cells partition-pruned. A front door that fell back to the
    // plain-IVF engine would pass every value check (the cell table
    // carries vectors) while silently reading the 32x-larger column —
    // the exact defect this plan pin exists to catch.
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val rdir = java.nio.file.Files.createTempDirectory("annq-front").toString
    graft.operators.ProductQuantizer.ivfPqBuildResidual(
      emb, "vec_id", "embedding", 8, 16, 16, rdir)
    val fp = graft.operators.Similarity.annQuery(spark, rdir,
        emb.filter($"vec_id" < 3), "vec_id", "embedding",
        k = 5, nProbe = 3, rerank = 20)
      .queryExecution.executedPlan.toString
    val fScans = fp.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("cells")).toVector
    assert(fScans.nonEmpty, fp.take(1500))
    fScans.foreach(l => assert(l.contains("PartitionFilters: [cell") &&
      !l.contains("PartitionFilters: []"), l))
    val fAdc = fScans.find(l => l.replace(" ", "").contains("codes:array"))
    assert(fAdc.isDefined,
      s"annQuery on a composed index must serve the ADC scan:\n" +
        fScans.mkString("\n"))
    assert(!fAdc.get.replace(" ", "").contains("cv:array"),
      s"front-door ADC scan must not decode vectors:\n${fAdc.get}")
    // and on a PLAIN index the front door stays the exact cosine engine
    val pdir = java.nio.file.Files.createTempDirectory("annq-plain").toString
    graft.operators.Similarity.ivfBuild(emb, "vec_id", "embedding", 8, pdir)
    val pp = graft.operators.Similarity.annQuery(spark, pdir,
        emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(!pp.replace(" ", "").contains("codes:array"), pp.take(1500))
  }

  test("t39 bloom prefilter runs on the probe side BELOW the semi join") {
    val p = planOf("t39_bloomjoin")
    assert(p.contains("LeftSemi"), p.take(1200))
    // the probe expression (xxhash64 + dynamic shifts over the bit-array
    // literal) must sit in a Filter under the join, not above it
    val joinLine = p.linesIterator.indexWhere(_.contains("LeftSemi"))
    val filterLine = p.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("xxhash64"))
    assert(filterLine > joinLine && joinLine >= 0,
      s"bloom filter must be below the join (join@$joinLine, filter@$filterLine)\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("t35 z-value computation prunes the scan to the four columns it uses") {
    val p = planOf("t35_zorder")
    val scanLine = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    val read = "ReadSchema:struct<([^>]*)>".r
      .findFirstMatchIn(scanLine.replace(" ", "")).map(_.group(1)).getOrElse("MISSING")
    val cols = read.split(",").map(_.takeWhile(_ != ':')).toSet
    assert(cols == Set("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      s"scan must read exactly the 4 used columns, got $cols\n$scanLine")
  }

  test("t40 Misra-Gries aggregates partially map-side before the exchange") {
    val p = planOf("t40_heavyhit")
    // partial ObjectHashAggregate below the exchange + final above it:
    // the whole point of a mergeable sketch is k counters per partition
    // crossing the wire, not the raw token stream
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("t45 contamination semi-joins against a BROADCAST benchmark shingle set") {
    // drive execution first: the broadcast election happens in the FINAL
    // adaptive plan (the pre-execution plan stays conservative)
    val df = graft.SparkEntry.queries("t45_contam")(spark, sf0001)
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    // the benchmark side is dimension-sized by definition; a shuffle semi
    // join here would move the whole exploded corpus for no reason
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("t36 chunking is a Generate over a pruned two-column scan (no shuffle before it)") {
    // another suite may have cached the documents table, which substitutes
    // InMemoryTableScan for the FileScan this test inspects
    spark.catalog.clearCache()
    val p = planOf("t36_chunk")
    assert(p.contains("Generate"), p.take(1200))
    val scanLine = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    val read = "ReadSchema:struct<([^>]*)>".r
      .findFirstMatchIn(scanLine.replace(" ", "")).map(_.group(1)).getOrElse("MISSING")
    val cols = read.split(",").map(_.takeWhile(_ != ':')).toSet
    assert(cols == Set("doc_id", "text"), s"got $cols\n$scanLine")
  }

  test("t53 boilerplate removal anti-joins and partially aggregates the line df") {
    val p = planOf("t53_boilerplate")
    assert(p.contains("LeftAnti"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "df count must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("t54 duplicated spans: window hashes semi-join, no cartesian anywhere") {
    val p = planOf("t54_dupspans")
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("t20/t23/t54/t85 exchange counts stay at their round-21 shapes") {
    // the plans round 21 paid for when Fanout.spread left these sites:
    // (shuffle, broadcast) exchanges in the planned physical plan, pinned
    // at today's values so a refactor that adds a shuffle or loses a
    // broadcast fails here
    def exchanges(name: String): (Int, Int) = {
      val p = planOf(name)
      val shuffle = ("\\bExchange (hashpartitioning|rangepartitioning|" +
        "SinglePartition|RoundRobinPartitioning)").r
      (shuffle.findAllIn(p).size, "BroadcastExchange".r.findAllIn(p).size)
    }
    val want = Seq("t20_tfidf" -> (8, 3), "t23_prefix_jaccard" -> (6, 5),
      "t54_dupspans" -> (4, 2), "t85_span_removal" -> (5, 3))
    for ((name, counts) <- want)
      assert(exchanges(name) == counts, s"$name (shuffle, broadcast) exchanges")
  }

  test("t56/t61: the no-window sampling and bucketing contracts hold") {
    // temperatureBalance and bucketBy both exist to AVOID the global-sort /
    // per-group window formulations — a Window operator appearing in either
    // plan means the skew wall is back
    assert(!planOf("t56_temperature").contains("Window"))
    assert(!planOf("t61_curriculum").contains("Window"))
  }

  test("t58 JSONL parsing is a pure projection: no join in the plan") {
    val p = planOf("t58_jsonl")
    assert(!p.contains("Join"), p.take(1200))
  }

  test("t78 containment join blocks on rare shingles: equi-joins only, no cartesian") {
    // rarest-first prefix blocking exists so candidate pairs come from a
    // hash-partitioned equi-join on shingle; a cartesian or nested-loop
    // here means the blocking collapsed to all-pairs
    val p = planOf("t78_containment_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(1500))
  }

  test("t78 containment join carries set size on the explode: 3 shuffles, no re-attach") {
    // round-20 shape fix, pinned here (round-21 verdict #5): size(ts) rides
    // the token explode, which removed the groupBy(id) size aggregation and
    // BOTH id-keyed joins that re-attached it — 3 shuffle exchanges gone
    // from the plan. What remains: the shingle df-frequency aggregate, the
    // per-doc rank window, and the output sort; candidate/verify joins
    // broadcast. A 4th shuffle appearing means the re-attach crept back.
    val p = planOf("t78_containment_join")
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(shuffles <= 3, s"expected <= 3 shuffle exchanges, got $shuffles: " + p.take(1500))
  }

  test("t84 PageRank iteration: one equi-join + partial-agg inflow, no cartesian") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the gate wraps the operator in its own verification plan, so shape-
    // check one REAL iteration directly: rank-onto-edges equi-join, inflow
    // groupBy with map-side partial aggregation, no cartesian/BNLJ
    val docs = graft.core.Tables.documents(spark, sf0001)
    val edges = docs.select(
      concat(lit("h"), ($"doc_id" % 50).cast("string")).as("src"),
      concat(lit("h"), (($"doc_id" * 7 + 3) % 50).cast("string")).as("dst"))
    val r = graft.operators.PageRank.pageRank(edges, $"src", $"dst", iters = 1)
    val p = r.ranks.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    // ranks flow out of a checkpointed scan (lineage truncated per
    // iteration — the loop contract that keeps 100-iteration jobs plannable)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"), p.take(800))
  }

  test("t101 incremental admission: anti-join on fingerprints, first-wins partial-aggregates map-side") {
    val p = planOf("t101_incremental_dedup")
    // history leaves via an anti equi-join on the hash — never a cartesian
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    // within-batch first-wins is a min_by aggregation with a PARTIAL phase
    // below the fp exchange (the viral-duplicate batch collapses map-side),
    // not a rank window that must co-locate every duplicate first
    assert(p.contains("partial_min_by"), p.take(2000))
    assert(!p.contains("Window"), p.take(1200))
  }

  test("t102 sketch threshold filter: partial-agg sketch, broadcast cutoffs, no per-group data window") {
    val p = planOf("t102_sketch_threshold_filter")
    // sketch build partial-aggregates before its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    // the per-group cutoffs (bounded sketch rows) broadcast onto the corpus
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the only Window ops run over the bounded sketch (partitioned by grp),
    // never over the corpus: every Window sits above the sketch aggregate
    val lines = p.linesIterator.toVector
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx < aggIdx && winIdx >= 0,
      s"window must consume the aggregated sketch (win@$winIdx, agg@$aggIdx)\n${p.take(1500)}")
  }

  test("admitNearDup operator core: banded equi-joins and an anti-join, no cartesian") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the t104 GATE deliberately cross-joins (brute-force spec twin), and
    // admitNearDup checkpoints its survivor frame (so the output plan shows
    // RDD scans, not the admission lineage) — shape-check the rejection
    // COMPOSITION the operator is built from: band arrays explode into
    // (band_idx, band_hash) keys, candidates come from an equi-join on
    // them, history leaves via anti-join, nothing plans as a cartesian
    val docs = graft.core.Tables.documents(spark, sf0001)
    val sig = graft.expressions.GraftFunctions.minhashSig($"text", 3, 32)
    def bandsOf(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(col("id").as(s"${p}id"),
        posexplode(graft.operators.DedupOps.bands($"sig", 8, 4))
          .as(Seq("band_idx", "band_hash")))
    val idx = graft.operators.IncrementalDedup.buildSigIndex(
      docs.where($"doc_id" % 3 === 0), $"doc_id", $"text")
    val bs = docs.where($"doc_id" % 3 =!= 0).select($"doc_id".as("id"), sig.as("sig"))
    val rejected = bandsOf(bs, "b").join(bandsOf(idx, "i"), Seq("band_idx", "band_hash"))
      .select($"bid".as("id")).distinct()
    val out = bs.join(rejected, Seq("id"), "left_anti")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(p.contains("band_hash"), p.take(1500))
    // and the full operator never degrades to a cartesian anywhere
    val full = graft.operators.IncrementalDedup.admitNearDup(
      docs.where($"doc_id" % 3 =!= 0), idx, "doc_id", "text")
    val fp = full.queryExecution.executedPlan.toString
    assert(!fp.contains("CartesianProduct") && !fp.contains("BroadcastNestedLoopJoin"),
      fp.take(1500))
  }

  test("t105 recrawl priority: one partial-aggregating hash aggregation, no window, no join") {
    val p = planOf("t105_recrawl_priority")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    assert(!p.contains("Window") && !p.contains("Join"), p.take(1200))
  }

  test("t106 budget allocation: remainder window runs over the aggregated domain table only") {
    val p = planOf("t106_crawl_budget")
    // the corpus collapses to the bounded domain table in a partial+final
    // hash aggregation BEFORE any window touches it (same rule as t102)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    val lines = p.linesIterator.toVector
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0 && winIdx < aggIdx,
      s"window must consume aggregated domains (win@$winIdx, agg@$aggIdx)\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("t108 exact mix: no whole-group window on the data path") {
    val p = planOf("t108_exact_mix")
    // the boundary row window must partition by (group, bucket) — a window
    // partitioned by group alone ordering the per-row hashes would be the
    // skew wall the operator exists to remove. (The ledger's prefix-sum
    // window partitions by group but orders the BOUNDED bucket table.)
    assert("windowspecdefinition\\(__grp#\\d+L?, __bucket#\\d+L?, __h#".r
      .findFirstIn(p).isDefined, p.take(1500))
    assert("windowspecdefinition\\(__grp#\\d+L?, __h#".r
      .findFirstIn(p).isEmpty, p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("t82 interleave: rank window is per-(partition, source); per-source window only sees the bounded offsets aggregate") {
    import spark.implicits._
    // the scale-killer this operator replaced was row_number() over
    // Window.partitionBy(source) — every source's whole corpus through ONE
    // task. The distributed construction must (a) rank inside
    // (__pid, source_idx) windows, which hash-partition across the cluster,
    // and (b) confine any per-source-only window to the per-partition count
    // table (numPartitions × S rows), i.e. ABOVE a HashAggregate.
    val docs = graft.core.Tables.documents(spark, sf0001)
    val r = graft.operators.TrainingOrder.interleave(
      docs, $"lang", $"doc_id", Seq("de", "en", "es", "fr", "zh"))
    val p = r.queryExecution.executedPlan.toString
    // the data-path rank window carries __pid in its partition spec
    assert("windowspecdefinition\\(__pid#\\d+, source_idx#".r.findFirstIn(p).isDefined,
      p.take(1500))
    // no window partitions by source_idx alone ordering the DATA keys (skey)
    assert("windowspecdefinition\\(source_idx#\\d+L?, skey#".r.findFirstIn(p).isEmpty,
      p.take(1500))
    // the per-source prefix window consumes the aggregated counts: it sits
    // above a partial+final HashAggregate and joins back via broadcast
    val lines = p.linesIterator.toVector
    val offWin = lines.indexWhere(l =>
      l.contains("windowspecdefinition(source_idx") && l.contains("__pid"))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(offWin >= 0 && offWin < aggIdx,
      s"offsets window must consume the count aggregate (win@$offWin, agg@$aggIdx)\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("t89 HITS half-step: score push is an equi-join + partial aggregation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf0001)
    val m = $"doc_id" % 47
    val edges = docs.select(
      concat(lit("h"), ($"doc_id" % 50).cast("string")).as("src"),
      concat(lit("h"), ((m * m + 3) % 47).cast("string")).as("dst"))
    val r = graft.operators.Hits.hits(edges, $"src", $"dst", iters = 1)
    val p = r.scores.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }
}
