package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The BATCHED serving contract across the retrieval tiers: a Q-row query
  * frame must cost a CONSTANT number of driver jobs (one union-of-probed-
  * cells / slice-union read + one scoring plan — never Q per-query reads),
  * and each query's batched rows must be VALUE-IDENTICAL to its own
  * single-query call. The lexical tier pinned this in round 18 (t141 /
  * LexIndexSpec); this spec pins the dense tier (ivfQuery, ivfPqQuery)
  * and the fused hybrid tier (rrfFuseMany / hybridSearchMany).
  */
class BatchedServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.core.Tables.embeddings(spark, sf0001)
  private lazy val docs = graft.core.Tables.documents(spark, sf0001)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/ix"

  private lazy val ivfDir: String = {
    val d = tmp("batched_ivf")
    Similarity.ivfBuild(emb, "vec_id", "embedding", nCells = 4, d)
    d
  }
  private lazy val pqDir: String = {
    val d = tmp("batched_pq")
    ProductQuantizer.ivfPqBuildResidual(emb, "vec_id", "embedding",
      4, 8, 16, d)
    d
  }
  private lazy val lexDir: String = {
    val d = tmp("batched_lex")
    LexIndex.build(docs, "doc_id", "text", d, nBuckets = 8)
    d
  }

  /** Count the Spark jobs `body` launches, via a job group + the public
    * status tracker (no private listener-bus APIs).
    */
  private def jobsIn(tag: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    try body
    finally spark.sparkContext.clearJobGroup()
    // the status store is fed by the async listener bus — poll until the
    // count is stable so a lagging event can't undercount
    var last = -1
    var n = spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
    var waited = 0
    while (n != last && waited < 5000) {
      last = n
      Thread.sleep(200)
      waited += 200
      n = spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
    }
    n
  }

  private def queriesOf(ids: Long*): DataFrame =
    emb.where($"vec_id".isin(ids: _*))

  test("ivfQuery: driver-job count is CONSTANT in the query-batch size") {
    ivfDir // build outside the counted groups
    val j2 = jobsIn("ivf_q2") {
      Similarity.ivfQuery(spark, ivfDir, queriesOf(0L, 1L),
        "vec_id", "embedding", k = 5, nProbe = 2).collect()
    }
    val j8 = jobsIn("ivf_q8") {
      Similarity.ivfQuery(spark, ivfDir,
        queriesOf(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L),
        "vec_id", "embedding", k = 5, nProbe = 2).collect()
    }
    assert(j2 > 0, "job group saw no jobs — the counter is broken")
    assert(j8 == j2,
      s"ivfQuery jobs grew with the batch: Q=2 -> $j2 jobs, Q=8 -> $j8")
  }

  test("ivfPqQuery: driver-job count is CONSTANT in the query-batch size") {
    pqDir
    val j2 = jobsIn("pq_q2") {
      ProductQuantizer.ivfPqQuery(spark, pqDir, queriesOf(0L, 1L),
        "vec_id", "embedding", k = 5, nProbe = 2, rerank = 20).collect()
    }
    val j8 = jobsIn("pq_q8") {
      ProductQuantizer.ivfPqQuery(spark, pqDir,
        queriesOf(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L),
        "vec_id", "embedding", k = 5, nProbe = 2, rerank = 20).collect()
    }
    assert(j2 > 0, "job group saw no jobs — the counter is broken")
    assert(j8 == j2,
      s"ivfPqQuery jobs grew with the batch: Q=2 -> $j2 jobs, Q=8 -> $j8")
  }

  test("bm25TopKFromIndexMany: driver-job count is CONSTANT in the query-batch size") {
    lexDir
    val terms = Seq("spark", "merge", "window", "data", "table", "query",
      "index", "stream")
    def batch(q: Int) = (0 until q).map(i =>
      s"q$i" -> Seq(terms(i % terms.size), terms((i + 3) % terms.size)))
    val j2 = jobsIn("lex_q2") {
      LexIndex.bm25TopKFromIndexMany(spark, lexDir, batch(2), k = 5).collect()
    }
    val j8 = jobsIn("lex_q8") {
      LexIndex.bm25TopKFromIndexMany(spark, lexDir, batch(8), k = 5).collect()
    }
    assert(j2 > 0, "job group saw no jobs — the counter is broken")
    assert(j8 == j2,
      s"bm25TopKFromIndexMany jobs grew with the batch: Q=2 -> $j2 jobs, Q=8 -> $j8")
  }

  test("the query entry points start no schema-inference or file-listing job, tombstones pending") {
    val lex = tmp("listen_lex")
    LexIndex.build(docs.where($"doc_id" < 300), "doc_id", "text", lex,
      nBuckets = 64)
    LexIndex.delete(spark, lex,
      docs.where($"doc_id" % 9 === 0).select($"doc_id"), "doc_id")
    val pq = tmp("listen_pq")
    ProductQuantizer.ivfPqBuildResidual(emb, "vec_id", "embedding", 4, 8, 16, pq)
    Similarity.ivfDelete(spark, pq,
      emb.where($"vec_id" % 9 === 0).select($"vec_id"), "vec_id")
    val queries = queriesOf(1L, 2L).localCheckpoint()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.map(_.name).mkString("; ") + " / " +
          Option(e.properties).map(_.getProperty("spark.job.description")).orNull,
          e.stageInfos.map(_.numTasks).sum))
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      LexIndex.bm25TopKFromIndexMany(spark, lex,
        Seq("a" -> Seq("spark", "merge"), "b" -> Seq("window")), k = 5).collect()
      ProductQuantizer.ivfPqQuery(spark, pq, queries, "vec_id", "embedding",
        k = 5, nProbe = 2, rerank = 20).collect()
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq
    assert(seen.nonEmpty, "the listener saw no jobs")
    // a job started from inside DataFrameReader.parquet is schema
    // inference or a parallel file listing
    val readerJobs = seen.filter(_._1.contains("parquet at "))
    assert(readerJobs.isEmpty, s"reader jobs: $readerJobs")
    val listing = seen.filter { case (d, n) => d.contains("Listing") && n >= 32 }
    assert(listing.isEmpty, s"listing jobs: $listing")
  }

  test("each query's batched rows are value-identical to its single-query call (ivf + ivfpq)") {
    val ids = Seq(0L, 3L, 11L)
    val batchedIvf = Similarity.ivfQuery(spark, ivfDir, queriesOf(ids: _*),
      "vec_id", "embedding", k = 7, nProbe = 2).localCheckpoint()
    val batchedPq = ProductQuantizer.ivfPqQuery(spark, pqDir,
      queriesOf(ids: _*), "vec_id", "embedding", k = 7, nProbe = 2,
      rerank = 20).localCheckpoint()
    for (q <- ids) {
      val singleIvf = Similarity.ivfQuery(spark, ivfDir, queriesOf(q),
        "vec_id", "embedding", k = 7, nProbe = 2)
      val sliceIvf = batchedIvf.where($"query_id" === q)
      assert(sliceIvf.exceptAll(singleIvf)
        .unionAll(singleIvf.exceptAll(sliceIvf)).count() == 0,
        s"ivfQuery batch diverged from the single call for query $q")
      val singlePq = ProductQuantizer.ivfPqQuery(spark, pqDir, queriesOf(q),
        "vec_id", "embedding", k = 7, nProbe = 2, rerank = 20)
      val slicePq = batchedPq.where($"query_id" === q)
      assert(slicePq.exceptAll(singlePq)
        .unionAll(singlePq.exceptAll(slicePq)).count() == 0,
        s"ivfPqQuery batch diverged from the single call for query $q")
    }
  }

  test("rrfFuseMany fuses per query exactly like rrfFuse fuses each query alone; the pool contract is enforced per query") {
    val l0 = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("b", 30L, 1L))
      .toDF("query_id", "id", "rank")
    val l1 = Seq(("a", 20L, 1L), ("a", 40L, 2L), ("b", 10L, 1L))
      .toDF("query_id", "id", "rank")
    val fusedMany = TextSearch.rrfFuseMany(Seq(l0, l1), k = 5)
      .localCheckpoint()
    for (q <- Seq("a", "b")) {
      val single = TextSearch.rrfFuse(
        Seq(l0.where($"query_id" === q).drop("query_id"),
          l1.where($"query_id" === q).drop("query_id")), k = 5)
      val slice = fusedMany.where($"query_id" === q).drop("query_id")
        .select(single.columns.map(col): _*)
      assert(slice.exceptAll(single).unionAll(single.exceptAll(slice))
        .count() == 0, s"rrfFuseMany diverged from rrfFuse for query $q")
    }
    // duplicate id WITHIN one query fails loudly; the same id across
    // DIFFERENT queries is legal and must not trip the check
    val dup = Seq(("a", 10L, 1L), ("a", 10L, 2L)).toDF("query_id", "id", "rank")
    val e = intercept[IllegalArgumentException] {
      TextSearch.rrfFuseMany(Seq(dup), k = 5)
    }
    assert(e.getMessage.contains("duplicate id"), e.getMessage)
    val cross = Seq(("a", 10L, 1L), ("b", 10L, 1L)).toDF("query_id", "id", "rank")
    assert(TextSearch.rrfFuseMany(Seq(cross), k = 5).count() == 2)
    // a corpus-scale per-query pool fails loudly naming the contract
    val big = spark.range(50).select(lit("a").as("query_id"), $"id",
      ($"id" + 1).as("rank"))
    val e2 = intercept[IllegalArgumentException] {
      TextSearch.rrfFuseMany(Seq(big), k = 5, maxPoolRowsPerQuery = 10)
    }
    assert(e2.getMessage.contains("maxPoolRowsPerQuery"), e2.getMessage)
  }

  test("hybridSearchMany ≡ composing the single-query operators per query (lex rank + dense rank + rrfFuse)") {
    val qs = Seq(0L -> Seq("spark", "merge"), 9L -> Seq("window"))
    val poolK = 15
    val batched = TextSearch.hybridSearchMany(spark, lexDir, ivfDir, qs,
      emb, "vec_id", "embedding", k = 8, poolK = poolK, nProbe = 2)
      .localCheckpoint()
    for ((qid, terms) <- qs) {
      val lexW = org.apache.spark.sql.expressions.Window
        .orderBy($"score".desc, $"id")
      val lex = LexIndex.bm25TopKFromIndex(spark, lexDir, terms, k = poolK)
        .select($"id", row_number().over(lexW).cast("bigint").as("rank"))
      val dense = Similarity.ivfQuery(spark, ivfDir, queriesOf(qid),
          "vec_id", "embedding", k = poolK, nProbe = 2)
        .select($"neighbor_id".as("id"), $"rank")
      val single = TextSearch.rrfFuse(Seq(lex, dense), k = 8)
      val slice = batched.where($"query_id" === qid.toString)
        .drop("query_id").select(single.columns.map(col): _*)
      assert(slice.exceptAll(single).unionAll(single.exceptAll(slice))
        .count() == 0,
        s"hybridSearchMany diverged from the single-query composition " +
          s"for query $qid")
    }
  }

  test("hybridSearchMany on a COMPOSED index rides the ADC engine and ≡ the ivfPqQuery composition per query") {
    // the round-19 gap: the hybrid dense pool called the plain-IVF engine
    // unconditionally, reading full vectors from every probed cell of a
    // composed index. The front door (Similarity.annQuery) now dispatches
    // on the layout; this drill pins (a) value-identity against the
    // explicit ivfPqQuery composition — proving the pool really came from
    // the ADC + re-rank engine (ADC candidate pools differ from exact
    // pools at small rerank, so agreement at rerank=poolK is dispatch
    // evidence, not coincidence), and (b) annQuery ≡ the layout engine on
    // both layouts. The plan-level ReadSchema pin lives in PlanShapeSpec.
    val qs = Seq(0L -> Seq("spark", "merge"), 9L -> Seq("window"))
    val poolK = 15
    val batched = TextSearch.hybridSearchMany(spark, lexDir, pqDir, qs,
      emb, "vec_id", "embedding", k = 8, poolK = poolK, nProbe = 2,
      rerank = poolK).localCheckpoint()
    for ((qid, terms) <- qs) {
      val lexW = org.apache.spark.sql.expressions.Window
        .orderBy($"score".desc, $"id")
      val lex = LexIndex.bm25TopKFromIndex(spark, lexDir, terms, k = poolK)
        .select($"id", row_number().over(lexW).cast("bigint").as("rank"))
      val dense = ProductQuantizer.ivfPqQuery(spark, pqDir, queriesOf(qid),
          "vec_id", "embedding", k = poolK, nProbe = 2, rerank = poolK)
        .select($"neighbor_id".as("id"), $"rank")
      val single = TextSearch.rrfFuse(Seq(lex, dense), k = 8)
      val slice = batched.where($"query_id" === qid.toString)
        .drop("query_id").select(single.columns.map(col): _*)
      assert(slice.exceptAll(single).unionAll(single.exceptAll(slice))
        .count() == 0,
        s"composed hybridSearchMany diverged from the ivfPqQuery " +
          s"composition for query $qid")
    }
    // front-door dispatch value-identity on both layouts
    val q = queriesOf(0L, 3L)
    val viaFrontPq = Similarity.annQuery(spark, pqDir, q, "vec_id",
      "embedding", k = 7, nProbe = 2, rerank = 20)
    val direct = ProductQuantizer.ivfPqQuery(spark, pqDir, q, "vec_id",
      "embedding", k = 7, nProbe = 2, rerank = 20)
    assert(viaFrontPq.exceptAll(direct).unionAll(direct.exceptAll(viaFrontPq))
      .count() == 0, "annQuery(composed) != ivfPqQuery")
    val viaFrontIvf = Similarity.annQuery(spark, ivfDir, q, "vec_id",
      "embedding", k = 7, nProbe = 2)
    val directIvf = Similarity.ivfQuery(spark, ivfDir, q, "vec_id",
      "embedding", k = 7, nProbe = 2)
    assert(viaFrontIvf.exceptAll(directIvf)
      .unionAll(directIvf.exceptAll(viaFrontIvf)).count() == 0,
      "annQuery(plain) != ivfQuery")
  }

  test("filtered hybridSearchMany on a COMPOSED index ≡ the ivfPqQueryFilteredAdaptive composition; no disallowed id surfaces") {
    val qs = Seq(0L -> Seq("spark", "merge"), 9L -> Seq("window"))
    val poolK = 15
    val allowed = docs.where($"doc_id" % 3 === 0).select($"doc_id")
    val batched = TextSearch.hybridSearchMany(spark, lexDir, pqDir, qs,
      emb, "vec_id", "embedding", k = 8, poolK = poolK, nProbe = 2,
      allowed = Some(allowed), rerank = poolK).localCheckpoint()
    assert(batched.where($"id" % 3 =!= 0).count() == 0,
      "a disallowed id surfaced in the composed batched fused top-k")
    for ((qid, terms) <- qs) {
      val lexW = org.apache.spark.sql.expressions.Window
        .orderBy($"score".desc, $"id")
      val lex = LexIndex.bm25TopKFromIndex(spark, lexDir, terms, k = poolK,
          allowed = Some(allowed))
        .select($"id", row_number().over(lexW).cast("bigint").as("rank"))
      val dense = ProductQuantizer.ivfPqQueryFilteredAdaptive(spark, pqDir,
          queriesOf(qid), "vec_id", "embedding", allowed, "doc_id",
          k = poolK, baseNProbe = 2, rerank = poolK)
        .select($"neighbor_id".as("id"), $"rank")
      val single = TextSearch.rrfFuse(Seq(lex, dense), k = 8)
      val slice = batched.where($"query_id" === qid.toString)
        .drop("query_id").select(single.columns.map(col): _*)
      assert(slice.exceptAll(single).unionAll(single.exceptAll(slice))
        .count() == 0,
        s"composed filtered hybridSearchMany diverged from the " +
          s"ivfPqQueryFilteredAdaptive composition for query $qid")
    }
  }

  test("filtered hybridSearchMany: the allowed set threads through BOTH batched pools; ≡ the single-query filtered composition; no disallowed id surfaces") {
    val qs = Seq(0L -> Seq("spark", "merge"), 9L -> Seq("window"))
    val poolK = 15
    val allowed = docs.where($"doc_id" % 3 === 0).select($"doc_id")
    val batched = TextSearch.hybridSearchMany(spark, lexDir, ivfDir, qs,
      emb, "vec_id", "embedding", k = 8, poolK = poolK, nProbe = 2,
      allowed = Some(allowed)).localCheckpoint()
    assert(batched.where($"id" % 3 =!= 0).count() == 0,
      "a disallowed id surfaced in the batched fused top-k")
    for ((qid, terms) <- qs) {
      val lexW = org.apache.spark.sql.expressions.Window
        .orderBy($"score".desc, $"id")
      val lex = LexIndex.bm25TopKFromIndex(spark, lexDir, terms, k = poolK,
          allowed = Some(allowed))
        .select($"id", row_number().over(lexW).cast("bigint").as("rank"))
      val dense = Similarity.ivfQueryFilteredAdaptive(spark, ivfDir,
          queriesOf(qid), "vec_id", "embedding", allowed, "doc_id",
          k = poolK, baseNProbe = 2)
        .select($"neighbor_id".as("id"), $"rank")
      val single = TextSearch.rrfFuse(Seq(lex, dense), k = 8)
      val slice = batched.where($"query_id" === qid.toString)
        .drop("query_id").select(single.columns.map(col): _*)
      assert(slice.exceptAll(single).unionAll(single.exceptAll(slice))
        .count() == 0,
        s"filtered hybridSearchMany diverged from the single composition " +
          s"for query $qid")
    }
  }

  test("CLI hybrid-search-many: a query file is served by the batched operators and matches them row-for-row") {
    val base = java.nio.file.Files.createTempDirectory("hsm_cli").toString
    val qf = java.nio.file.Paths.get(base, "queries.txt")
    java.nio.file.Files.write(qf,
      java.util.Arrays.asList("0 spark merge", "", "9 window"))
    graft.cli.GraftCli.run(spark, List("hybrid-search-many", sf0001,
      ivfDir, lexDir, qf.toString, s"$base/out"))
    val out = spark.read.parquet(s"$base/out")
    val want = TextSearch.hybridSearchMany(spark, lexDir, ivfDir,
      Seq(0L -> Seq("spark", "merge"), 9L -> Seq("window")),
      emb, "vec_id", "embedding", k = 20, poolK = 50, nProbe = 8)
    assert(out.exceptAll(want).unionAll(want.exceptAll(out)).count() == 0,
      "CLI output diverged from the operator")
    assert(out.select($"query_id").distinct().count() == 2)
    val e = intercept[IllegalArgumentException] {
      java.nio.file.Files.write(qf, java.util.Arrays.asList("loneid"))
      graft.cli.GraftCli.run(spark, List("hybrid-search-many", sf0001,
        ivfDir, lexDir, qf.toString, s"$base/out2"))
    }
    assert(e.getMessage.contains("bad query line"), e.getMessage)
  }

  test("CLI ann-query reports the dispatched layout on both index kinds; ann-maintain parses the keepGenerations arg") {
    val base = java.nio.file.Files.createTempDirectory("annq_cli").toString
    val qPath = s"$base/queries"
    queriesOf(0L, 3L).select($"vec_id", $"embedding").write.parquet(qPath)
    def stdoutOf(args: List[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.cli.GraftCli.run(spark, args)
      }
      buf.toString("UTF-8")
    }
    // the front door's dispatch is visible in the operator-facing output
    val plain = stdoutOf(List("ann-query", qPath, ivfDir, "5", "2"))
    assert(plain.contains("(ivf)"), plain.takeRight(300))
    val composed = stdoutOf(List("ann-query", qPath, pqDir, "5", "2", "20"))
    assert(composed.contains("(ivf-pq)"), composed.takeRight(300))
    // ann-maintain arg 8 = keepGenerations; '-' keeps the default — both
    // must parse and run the policy (no drift log on this fixture: the
    // decision trace reports zero appends and no action)
    val m1 = stdoutOf(List("ann-maintain", ivfDir,
      "1.5", "3", "-", "-", "-", "-", "-", "3"))
    assert(m1.contains("ann-maintain:"), m1.takeRight(300))
    val m2 = stdoutOf(List("ann-maintain", ivfDir,
      "1.5", "3", "-", "-", "-", "-", "-", "-"))
    assert(m2.contains("ann-maintain:"), m2.takeRight(300))
    // a bad keep value fails loudly through the policy's own require
    intercept[IllegalArgumentException] {
      graft.cli.GraftCli.run(spark, List("ann-maintain", ivfDir,
        "1.5", "3", "-", "-", "-", "-", "-", "0"))
    }
  }
}
