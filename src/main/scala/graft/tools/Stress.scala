package graft.tools

import graft.core.Tables
import graft.operators.{BloomJoin, Bpe, ContainmentJoin, CountMin, DedupClusters, DedupOps, HeavyHitters, IntervalJoin, LanguageModel, Layout, Merge, ParagraphDedup, Projection, QualityRules, Similarity, Splits, TextAnalysis, TextPipeline, WebOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Empirical scale-up proof for the scale-critical operators (VERDICT r3
  * backlog #3): synthesize a `factor`× corpus by replicating documents /
  * embeddings with deterministic per-replica perturbations, then drive the
  * dedup → clusters and ANN-index paths end-to-end and check the properties
  * that matter at 100 TB:
  *
  *   - candidate/emitted pair counts grow ~linearly in corpus size (the
  *     perturbation makes replica i of a doc drift by i unique tokens, so
  *     near-dup clusters have bounded width no matter how large the corpus —
  *     the realistic "boilerplate + drift" shape);
  *   - connected components converge in few rounds (near-clique clusters);
  *   - the persisted IVF index is queried with static partition pruning
  *     (scan reads probed cells only);
  *   - everything completes at default executor memory (no OOM).
  *
  * Usage: runMain graft.tools.Stress <sfDir> <workDir> [factor]
  * Prints one JSON line per stage and a final summary line; exits non-zero
  * if any assertion fails. Numbers are recorded in NOTES_r4.md.
  */
object Stress {

  /** `factor` near-dup replicas per document. Replica 0 is the original;
    * replica i appends i DISTINCT tokens unique to (doc, replica), so
    * jaccard(rep i, rep j) ≈ s/(s+i+j+4) for a doc with s base shingles —
    * replicas pair only while i+j is small, clusters stay bounded, and the
    * pair count stays linear in corpus size.
    */
  def stressDocs(spark: SparkSession, sfDir: String, factor: Int): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.crossJoin(spark.range(factor.toLong).toDF("rep"))
      .select(
        (col("doc_id") * factor + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(concat(
          col("text"), lit(" "),
          concat_ws(" ", transform(sequence(lit(0), col("rep") - 1),
            j => concat(lit("u"), col("doc_id"), lit("_"), col("rep"),
              lit("_"), j))))).as("text"),
        col("lang"), col("source"))
  }

  /** `factor` perturbed replicas per embedding (deterministic drift). */
  def stressEmbeddings(spark: SparkSession, sfDir: String, factor: Int): DataFrame =
    Tables.embeddings(spark, sfDir)
      .crossJoin(spark.range(factor.toLong).toDF("rep"))
      .select(
        (col("vec_id") * factor + col("rep")).as("vec_id"),
        transform(col("embedding"),
          x => (x + (col("rep") % 17).cast("float") * lit(0.001f)).cast("float"))
          .as("embedding"))

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def j(kvs: (String, Any)*): String =
    kvs.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val workDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-stress").toString)
    val factor = args.lift(2).map(_.toInt).getOrElse(100)
    val spark = graft.core.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName = "graft-stress")
    spark.sparkContext.setLogLevel("WARN")
    try { if (!run(spark, sfDir, workDir, factor)) sys.exit(1) }
    finally spark.stop()
  }

  /** Returns true iff every scale assertion held (also callable from the
    * `GraftCli stress` surface with a shared session).
    */
  def run(spark: SparkSession, sfDir: String, workDir: String, factor: Int): Boolean = {
    var failures = List.empty[String]
    def check(cond: Boolean, msg: String): Unit =
      if (!cond) failures ::= msg

    {
      // ---- corpus synthesis (written to parquet so every stage reads a
      // realistic file-backed input, not a cached in-memory plan)
      val docsPath = s"$workDir/docs"
      val (_, tSynth) = timed {
        stressDocs(spark, sfDir, factor)
          .write.mode("overwrite").parquet(docsPath)
      }
      val docs = spark.read.parquet(docsPath)
      val nDocs = docs.count()
      println(j("stage" -> "synthesize_docs", "seconds" -> tSynth,
        "factor" -> factor, "docs" -> nDocs))

      // ---- minhash pair growth: half vs full factor (near-linearity)
      val halfPath = s"$workDir/docs_half"
      stressDocs(spark, sfDir, factor / 2)
        .write.mode("overwrite").parquet(halfPath)
      val (halfPairs, tHalf) = timed {
        DedupOps.minhashNearDups(spark.read.parquet(halfPath),
          "doc_id", "text", threshold = 0.8).count()
      }
      val (fullPairs, tFull) = timed {
        DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.8).count()
      }
      val growth = fullPairs.toDouble / math.max(1L, halfPairs)
      println(j("stage" -> "minhash_pairs", "seconds" -> tFull,
        "half_seconds" -> tHalf, "pairs_half" -> halfPairs,
        "pairs_full" -> fullPairs, "growth_2x_corpus" -> growth))
      // doubling the corpus should ~double the pairs (bounded clusters);
      // quadratic behavior would show growth ≈ 4
      check(growth < 3.0, f"minhash pair growth $growth%.2f suggests super-linear candidates")

      // ---- connected components + survivor selection
      val pairs = DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val (cc, tCc) = timed {
        DedupClusters.connectedComponentsResult(
          docs.select(col("doc_id")), pairs, "doc_id")
      }
      val nClusters = cc.labels.select(col("component")).distinct().count()
      println(j("stage" -> "connected_components", "seconds" -> tCc,
        "rounds" -> cc.rounds, "converged" -> cc.converged,
        "nodes" -> nDocs, "clusters" -> nClusters))
      check(cc.converged, "connected components did not converge")
      check(cc.rounds <= 5, s"CC took ${cc.rounds} rounds (>5) — cluster diameter grew")

      // star-contraction must agree with propagation label-for-label at
      // this scale (both are oracle-gated at sf0.01; this is the 250k-node
      // cross-validation)
      val (stars, tStars) = timed {
        DedupClusters.connectedComponentsStarsResult(
          docs.select(col("doc_id")), pairs, "doc_id")
      }
      val disagree = cc.labels.exceptAll(stars.labels).count() +
        stars.labels.exceptAll(cc.labels).count()
      println(j("stage" -> "components_stars", "seconds" -> tStars,
        "rounds" -> stars.rounds, "converged" -> stars.converged,
        "label_disagreements" -> disagree))
      check(stars.converged, "star-contraction did not converge")
      check(disagree == 0, s"stars vs propagation labels disagree on $disagree rows")
      stars.labels.unpersist()
      cc.labels.unpersist()

      // ---- prefix-filtered exact join at the pruning-effective threshold
      val (prefixPairs, tPrefix) = timed {
        DedupOps.prefixJaccardPairs(docs, "doc_id", "text", "source",
          n = 3, threshold = 0.8).count()
      }
      println(j("stage" -> "prefix_jaccard", "seconds" -> tPrefix,
        "pairs" -> prefixPairs))

      // ---- persisted IVF: build once, query with static cell pruning
      val embPath = s"$workDir/emb"
      stressEmbeddings(spark, sfDir, factor)
        .write.mode("overwrite").parquet(embPath)
      val emb = spark.read.parquet(embPath)
      val nVecs = emb.count()
      val idx = s"$workDir/ivf"
      val (_, tBuild) = timed {
        Similarity.ivfBuild(emb, "vec_id", "embedding", nCells = 64, idx)
      }
      val queries = emb.filter(col("vec_id") < 3)
      val (qdf, tQuery) = timed {
        val df = Similarity.ivfQuery(spark, idx, queries,
          "vec_id", "embedding", k = 5, nProbe = 4)
        df.count()
        df
      }
      val plan = qdf.queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator
        .find(l => l.contains("FileScan") && l.contains("cells")).getOrElse("")
      val pruned = scanLine.contains("PartitionFilters: [cell")
      println(j("stage" -> "ivf_persisted", "build_seconds" -> tBuild,
        "query_seconds" -> tQuery, "vectors" -> nVecs,
        "partition_pruned" -> pruned))
      check(pruned, s"ivfQuery scan not partition-pruned: $scanLine")
      check(qdf.count() == 15, "ivfQuery did not return 3 queries x top-5")

      // ---- quantizer-drift diagnostic: an append drawn from the BUILD
      // distribution must read near ratio 1, while a genuinely drifted
      // batch (every coordinate shifted by a constant the build never saw)
      // must cross the rebuild threshold — "time to rebuild" is a number,
      // not a guess. Ids are disjoint from the built corpus (appends, not
      // re-inserts).
      val (driftStats, tDrift) = timed {
        val same = Similarity.ivfAppend(spark, idx,
          emb.select((col("vec_id") + nVecs).as("vec_id"), col("embedding")),
          "vec_id", "embedding")
        val drifted = Similarity.ivfAppend(spark, idx,
          emb.select((col("vec_id") + 2 * nVecs).as("vec_id"),
            transform(col("embedding"), x => (x + lit(0.35f)).cast("float"))
              .as("embedding")),
          "vec_id", "embedding")
        (same, drifted)
      }
      val (sameSt, driftSt) = driftStats
      println(j("stage" -> "ivf_drift_diag", "seconds" -> tDrift,
        "same_ratio" -> sameSt.driftRatio.getOrElse(-1.0),
        "drift_ratio" -> driftSt.driftRatio.getOrElse(-1.0)))
      check(sameSt.driftRatio.exists(r => r > 0.5 && r < 1.5),
        s"same-distribution append misread as drift: ${sameSt.driftRatio}")
      check(driftSt.driftRatio.exists(_ > 1.5),
        s"drifted append not flagged: ${driftSt.driftRatio}")

      // ---- drift->rebuild POLICY at stress scale: appends route through
      // the maintenance ledger; the quiet batch leaves the policy silent,
      // ONE hot batch is not a trend, the second consecutive hot batch
      // fires the rebuild exactly once, and the swap resets the ledger.
      // The stage record IS the decision trace. (Also exercises the
      // capped coarse fit: 256 x 64 cells < the stress corpus, so the
      // build and the policy-triggered rebuild both train on the
      // deterministic sample.)
      val mIdx = s"$workDir/ivf_maint"
      import graft.operators.AnnMaintenance
      val pol = AnnMaintenance.MaintenancePolicy(
        maxDriftRatio = 1.5, sustainAppends = 2)
      def batch(off: Long, shift: Float) = emb.select(
        (col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => (x + lit(shift)).cast("float"))
          .as("embedding"))
      val (trace, tMaint) = timed {
        Similarity.ivfBuild(emb, "vec_id", "embedding", nCells = 64, mIdx)
        AnnMaintenance.append(spark, mIdx, batch(3L * nVecs, 0.0f),
          "vec_id", "embedding")
        val quiet = AnnMaintenance.maintain(spark, mIdx, pol)
        AnnMaintenance.append(spark, mIdx, batch(4L * nVecs, 0.35f),
          "vec_id", "embedding")
        val oneHot = AnnMaintenance.maintain(spark, mIdx, pol)
        AnnMaintenance.append(spark, mIdx, batch(5L * nVecs, 0.35f),
          "vec_id", "embedding")
        val fired = AnnMaintenance.maintain(spark, mIdx, pol)
        val after = AnnMaintenance.maintain(spark, mIdx, pol)
        (quiet, oneHot, fired, after)
      }
      val (mQuiet, mOneHot, mFired, mAfter) = trace
      println(j("stage" -> "ann_maintain", "seconds" -> tMaint,
        "quiet_rebuilt" -> mQuiet.rebuilt,
        "one_hot_rebuilt" -> mOneHot.rebuilt,
        "fired_rebuilt" -> mFired.rebuilt,
        "fired_ratios" -> mFired.recentRatios.map(r => f"$r%.2f").mkString("[", " ", "]"),
        "post_swap_appends" -> mAfter.appendsLogged))
      check(!mQuiet.rebuilt && !mOneHot.rebuilt,
        s"policy fired early: quiet=$mQuiet oneHot=$mOneHot")
      check(mFired.rebuilt && mFired.sustainedDrift,
        s"sustained drift did not fire: $mFired")
      check(!mAfter.rebuilt && mAfter.appendsLogged == 0,
        s"swap must reset the ledger: $mAfter")

      // ---- deletion arc at stress scale (round-17): takedown batches →
      // tombstoned reads never surface deleted ids (and their wall is
      // recorded — the broadcast-anti-join cost claim gets a measured
      // number) → the re-add guard fires → tombstone-pressure maintain
      // compacts exactly once (physical resolve) → the post-compact query
      // is row-identical and its wall is the no-tombstone band.
      val delIdx = s"$workDir/ivf_del"
      val nDel = (nVecs / 10L).max(5L)
      val (_, tDelBuild) = timed {
        Similarity.ivfBuild(emb, "vec_id", "embedding", nCells = 64, delIdx)
      }
      val (_, tDelete) = timed {
        (0 until 5).foreach { b =>
          Similarity.ivfDelete(spark, delIdx,
            spark.range(b * nDel / 5, (b + 1) * nDel / 5)
              .select(col("id").as("vec_id")), "vec_id")
        }
      }
      val tsFiles = graft.operators.IndexFs.fileNames(s"$delIdx/tombstones")
        .count(_.endsWith(".parquet"))
      val (preDel, tPreDelQ) = timed {
        val df = Similarity.ivfQuery(spark, delIdx, queries,
          "vec_id", "embedding", k = 5, nProbe = 4)
        df.count(); df
      }
      val surfaced = preDel.where(col("neighbor_id") < nDel).count()
      val preRows = preDel.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // recall harness over the live view only (never a deleted id)
      val recallSample = Similarity.indexRecall(spark, delIdx,
        k = 5, nProbe = 8, nQueries = 8)
      // re-add of a tombstoned id must fail LOUDLY pre-write
      val guardFired =
        try {
          Similarity.ivfAppend(spark, delIdx,
            emb.where(col("vec_id") === 0L)
              .select(col("vec_id"), col("embedding")),
            "vec_id", "embedding")
          false
        } catch { case _: IllegalArgumentException => true }
      // tombstone PRESSURE, not an operator's manual compact, resolves:
      // 10% tombstoned > the 5% threshold below
      val delPol = AnnMaintenance.MaintenancePolicy(maxDriftRatio = 1e9,
        sustainAppends = 1, maxMixtureTv = None,
        maxTombstoneFraction = Some(0.05))
      val (delDecision, tDelCompact) = timed {
        AnnMaintenance.maintain(spark, delIdx, delPol)
      }
      val (postDel, tPostDelQ) = timed {
        val df = Similarity.ivfQuery(spark, delIdx, queries,
          "vec_id", "embedding", k = 5, nProbe = 4)
        df.count(); df
      }
      val postRows = postDel.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the compact committed a new GENERATION — resolve before reading
      val delRoot = graft.operators.IncrementalDedup.readRoot(delIdx)
      val nLive = spark.read.parquet(s"$delRoot/cells").count()
      println(j("stage" -> "deletion_arc", "build_seconds" -> tDelBuild,
        "delete_seconds" -> tDelete, "tombstoned" -> nDel,
        "tombstone_files" -> tsFiles,
        "query_tombstoned_seconds" -> tPreDelQ,
        "query_compacted_seconds" -> tPostDelQ,
        "compact_seconds" -> tDelCompact,
        "recall_live" -> f"$recallSample%.3f",
        "live_vectors" -> nLive))
      check(surfaced == 0, s"$surfaced deleted ids surfaced pre-compact")
      check(tsFiles <= 17, s"tombstone table fragmented: $tsFiles files")
      check(guardFired, "re-adding a tombstoned id did not fail loudly")
      check(delDecision.compacted && !delDecision.rebuilt,
        s"tombstone pressure did not compact: $delDecision")
      check(!graft.operators.IndexFs.exists(s"$delRoot/tombstones"),
        "compact left the tombstone table behind")
      check(nLive == nVecs - nDel,
        s"expected ${nVecs - nDel} live vectors post-compact, got $nLive")
      check(preRows == postRows,
        "physical resolve changed query answers")

      // ---- fp-admission takedown arc at scale: delete a fingerprint
      // slice → the SAME batch re-admits exactly that slice (re-crawl
      // contract) → its delta + readmitKeys clears the tombstones → the
      // third crawl is rejected again.
      val fpIx = s"$workDir/fp_del"
      val docFp = md5(col("text"))
      val (fpCounts, tFpArc) = timed {
        graft.operators.IncrementalDedup.buildIndex(docs, docFp)
          .write.mode("overwrite").parquet(s"$fpIx/batch=1")
        def live() = graft.operators.IncrementalDedup.liveIndex(spark, fpIx,
          spark.read.parquet(fpIx).select(col("fp")), "fp")
        val dup = graft.operators.IncrementalDedup
          .admit(docs, live(), docFp, col("doc_id")).count()
        val slice = docs.where(col("doc_id") % 97 === 0)
        val nTakedown = graft.operators.IncrementalDedup.deleteFingerprints(
          spark, fpIx, slice.select(docFp.as("fp")))
        val readmitted = graft.operators.IncrementalDedup
          .admit(docs, live(), docFp, col("doc_id")).localCheckpoint()
        val nReadmit = readmitted.count()
        readmitted.select(col("fp")).write.parquet(s"$fpIx/batch=2")
        graft.operators.IncrementalDedup.readmitKeys(spark, fpIx,
          readmitted.select(col("fp")), "fp")
        val third = graft.operators.IncrementalDedup
          .admit(docs, live(), docFp, col("doc_id")).count()
        (dup, nTakedown, nReadmit, third)
      }
      val (fpDup, fpTakedown, fpReadmit, fpThird) = fpCounts
      println(j("stage" -> "takedown_readmit", "seconds" -> tFpArc,
        "duplicate_admitted" -> fpDup, "takedown_keys" -> fpTakedown,
        "readmitted" -> fpReadmit, "third_crawl_admitted" -> fpThird))
      check(fpDup == 0, s"fully-indexed batch admitted $fpDup rows")
      check(fpReadmit == fpTakedown,
        s"takedown of $fpTakedown fps must re-admit exactly that many docs, got $fpReadmit")
      check(fpThird == 0,
        s"third crawl re-admitted $fpThird rows — readmitKeys did not clear")
      check(!graft.operators.IndexFs.exists(s"$fpIx/_tombstones"),
        "cleared tombstone table still present")

      // ---- persisted lexical index at stress scale (round-18): build the
      // LexIndex over the 50k-doc corpus, then record the asymmetry the
      // tier exists for — the per-query read is POSTING-SLICE scale
      // (bucket-pruned, df rows per term), never corpus scale — with
      // row-identity to the full scan as the correctness floor, through a
      // takedown (exact stats corrections at scale) and the pressure
      // compact.
      val lexIx = s"$workDir/lexix"
      val lexTerms = Seq("the", "alpha1", "word7")
      import graft.operators.LexIndex
      val (_, tLexBuild) = timed {
        LexIndex.build(docs, "doc_id", "text", lexIx)
      }
      // the tf-only tier's build-cost delta (positions arrays priced at
      // ~30% of build in the round-18 record — this measures it each run)
      val lexTfIx = s"$workDir/lexix_tfonly"
      val (_, tLexBuildTf) = timed {
        LexIndex.build(docs, "doc_id", "text", lexTfIx,
          withPositions = false)
      }
      def lexFromIndex() = LexIndex
        .bm25TopKFromIndex(spark, lexIx, lexTerms, k = 20).localCheckpoint()
      def lexFromScan(d: org.apache.spark.sql.DataFrame) = graft.operators
        .TextSearch.bm25TopK(d, col("doc_id"), col("text"), lexTerms, k = 20)
        .localCheckpoint()
      val (ixTop, tLexIxQ) = timed { val r = lexFromIndex(); r.count(); r }
      val (scanTop, tLexScanQ) = timed { val r = lexFromScan(docs); r.count(); r }
      val lexDiff = ixTop.exceptAll(scanTop).unionAll(scanTop.exceptAll(ixTop))
        .count()
      // the slice scan must carry a bucket partition filter (the pruning
      // that makes the read slice-scale — same audit as the IVF cells scan)
      val nB = spark.read.parquet(s"$lexIx/meta").head().getAs[Int]("nbuckets")
      val b0 = spark.range(1)
        .select(pmod(hash(lit(lexTerms.head)), lit(nB)).as("b")).head().getInt(0)
      val slicePlan = spark.read.parquet(s"$lexIx/postings")
        .where(col("bucket") === b0 && col("term") === lexTerms.head)
        .queryExecution.executedPlan.toString
      val lexPruned = slicePlan.linesIterator
        .exists(l => l.contains("FileScan") &&
          l.contains("PartitionFilters: [") && l.contains("bucket"))
      // takedown at scale: 2% tombstoned — the corrected index query must
      // stay row-identical to a scan over the remaining corpus
      val (nLexDel, tLexDel) = timed {
        LexIndex.delete(spark, lexIx,
          docs.where(col("doc_id") % 50 === 0).select(col("doc_id")), "doc_id")
      }
      val (ixTopDel, tLexIxDelQ) = timed { val r = lexFromIndex(); r.count(); r }
      val scanTopDel = lexFromScan(docs.where(col("doc_id") % 50 =!= 0))
      val lexDelDiff = ixTopDel.exceptAll(scanTopDel)
        .unionAll(scanTopDel.exceptAll(ixTopDel)).count()
      val (lexCompacted, tLexCompact) = timed {
        LexIndex.maintain(spark, lexIx, maxTombstoneFraction = 0.01)
      }
      val ixTopPost = lexFromIndex()
      val lexPostDiff = ixTopPost.exceptAll(scanTopDel)
        .unionAll(scanTopDel.exceptAll(ixTopPost)).count()
      println(j("stage" -> "lexical_index", "build_seconds" -> tLexBuild,
        "build_tfonly_seconds" -> tLexBuildTf,
        "index_query_seconds" -> tLexIxQ, "scan_query_seconds" -> tLexScanQ,
        "tombstoned_query_seconds" -> tLexIxDelQ,
        "delete_seconds" -> tLexDel, "compact_seconds" -> tLexCompact,
        "docs" -> nDocs, "tombstoned" -> nLexDel,
        "mismatches" -> lexDiff, "tombstoned_mismatches" -> lexDelDiff,
        "post_compact_mismatches" -> lexPostDiff))
      check(lexDiff == 0, s"index-served BM25 diverged from the scan ($lexDiff rows)")
      check(lexPruned, "posting-slice scan carries no bucket partition filter")
      check(lexDelDiff == 0,
        s"tombstone corrections not exact at scale ($lexDelDiff rows)")
      check(lexCompacted, "tombstone pressure did not fire the lex compact")
      check(!graft.operators.IndexFs.exists(
          s"${graft.operators.IncrementalDedup.readRoot(lexIx)}/tombstones"),
        "lex compact left the tombstone table behind")
      check(lexPostDiff == 0, s"lex compact changed answers ($lexPostDiff rows)")

      // ---- lexical UPSERT at stress scale (round-19): replace 2% of the
      // live corpus in place — the re-crawl verb — and prove the live
      // view is row-identical to a scan over the UPDATED corpus (old
      // versions exactly hidden, new text retrievable)
      val liveDocs = docs.where(col("doc_id") % 50 =!= 0)
      val replaced = liveDocs.where(col("doc_id") % 41 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" zz_upd zz_upd")).as("text"))
      val (nUps, tLexUpsert) = timed {
        LexIndex.upsert(spark, lexIx, replaced, "doc_id", "text")
      }
      val updatedCorpus = liveDocs
        .join(replaced.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text")).unionByName(replaced)
      val (ixUps, tLexUpsQ) = timed {
        val r = LexIndex.bm25TopKFromIndex(spark, lexIx,
          Seq("zz_upd", lexTerms.head), k = 20).localCheckpoint()
        r.count(); r
      }
      val scanUps = graft.operators.TextSearch.bm25TopK(updatedCorpus,
        col("doc_id"), col("text"), Seq("zz_upd", lexTerms.head), k = 20)
        .localCheckpoint()
      val upsDiff = ixUps.exceptAll(scanUps)
        .unionAll(scanUps.exceptAll(ixUps)).count()
      println(j("stage" -> "lexical_upsert", "upsert_seconds" -> tLexUpsert,
        "replaced" -> nUps, "query_seconds" -> tLexUpsQ,
        "mismatches" -> upsDiff))
      check(nUps > 0, "upsert replaced nothing")
      check(upsDiff == 0,
        s"upserted index diverged from the updated-corpus scan ($upsDiff rows)")

      // ---- hybrid retrieval at stress scale (round-17, lexical pool on
      // the PERSISTED index since round-18): the LexIndex posting-slice
      // pool + the PERSISTED ANN index's ranked pool, fused by
      // reciprocal-rank fusion — the t135/t138 operator family with BOTH
      // modalities on their index tiers, a wall-clock record for the
      // whole chain. (The index was takedown-compacted above, so the
      // fused pool also proves the lifecycle left retrieval intact.)
      val (hybrid, tHybrid) = timed {
        import org.apache.spark.sql.expressions.Window
        import graft.operators.TextSearch
        val lexW = Window.orderBy(col("score").desc, col("id"))
        val lex = LexIndex.bm25TopKFromIndex(spark, lexIx, lexTerms, k = 50)
          .select(col("id"),
            row_number().over(lexW).cast("bigint").as("rank"))
        val dense = Similarity.ivfQuery(spark, idx,
            emb.filter(col("vec_id") === 1L), "vec_id", "embedding",
            k = 50, nProbe = 8)
          .select(col("neighbor_id").as("id"), col("rank"))
        TextSearch.rrfFuse(Seq(lex, dense), k = 20).localCheckpoint()
      }
      val hybridN = hybrid.count()
      val lexHits = hybrid.where(col("rank_0").isNotNull).count()
      val denseHits = hybrid.where(col("rank_1").isNotNull).count()
      println(j("stage" -> "hybrid_retrieval", "seconds" -> tHybrid,
        "fused" -> hybridN, "with_lex_rank" -> lexHits,
        "with_dense_rank" -> denseHits))
      check(hybridN == 20, s"hybrid fusion returned $hybridN of 20")
      check(lexHits > 0 && denseHits > 0,
        s"both modalities must reach the fused pool (lex=$lexHits dense=$denseHits)")

      // ---- BATCHED serving at stress scale (round-19): Q queries in ONE
      // multi-row call vs a loop of single-query calls — the evaluation /
      // production serving shape. The batched dense call is one
      // union-of-probed-cells read + one query-partitioned rank window;
      // the loop pays per-call driver actions Q times. Value identity per
      // query is the correctness floor; queries/s both ways is the record.
      val denseQIds = (0 until 16).map(i => i.toLong * 31L)
      val denseQs = emb.where(col("vec_id").isin(denseQIds: _*))
      val (denseBatched, tDenseBatch) = timed {
        val r = Similarity.ivfQuery(spark, idx, denseQs,
          "vec_id", "embedding", k = 10, nProbe = 8).localCheckpoint()
        r.count(); r
      }
      val (denseLooped, tDenseLoop) = timed {
        denseQIds.map { q =>
          Similarity.ivfQuery(spark, idx, emb.where(col("vec_id") === q),
            "vec_id", "embedding", k = 10, nProbe = 8).localCheckpoint()
        }.reduce(_ unionAll _)
      }
      val denseBatchDiff = denseBatched.exceptAll(denseLooped)
        .unionAll(denseLooped.exceptAll(denseBatched)).count()
      // batched hybrid end-to-end: one lexical slice-union pass + one
      // dense batched call + one query-partitioned RRF fusion
      val hybridQs = (0 until 8).map(i => (i.toLong * 97L) -> lexTerms)
      val (hybridBatched, tHybridBatch) = timed {
        val r = graft.operators.TextSearch.hybridSearchMany(spark, lexIx,
          idx, hybridQs, emb, "vec_id", "embedding", k = 10, poolK = 50,
          nProbe = 8).localCheckpoint()
        r.count(); r
      }
      val hybridBatchedN = hybridBatched.count()
      val hybridBatchedQueries = hybridBatched
        .select(col("query_id")).distinct().count()
      println(j("stage" -> "batched_serving",
        "dense_queries" -> denseQIds.size,
        "dense_batched_seconds" -> tDenseBatch,
        "dense_loop_seconds" -> tDenseLoop,
        "dense_batched_qps" -> denseQIds.size / math.max(1e-9, tDenseBatch),
        "dense_loop_qps" -> denseQIds.size / math.max(1e-9, tDenseLoop),
        "dense_mismatches" -> denseBatchDiff,
        "hybrid_queries" -> hybridQs.size,
        "hybrid_batched_seconds" -> tHybridBatch,
        "hybrid_batched_qps" -> hybridQs.size / math.max(1e-9, tHybridBatch),
        "hybrid_rows" -> hybridBatchedN))
      check(denseBatchDiff == 0,
        s"batched dense serving diverged from the single-query loop " +
          s"($denseBatchDiff rows)")
      check(hybridBatchedN == hybridQs.size * 10L,
        s"batched hybrid returned $hybridBatchedN rows, wanted " +
          s"${hybridQs.size * 10}")
      check(hybridBatchedQueries == hybridQs.size,
        s"batched hybrid served $hybridBatchedQueries of ${hybridQs.size} queries")

      // ---- BATCHED hybrid on the COMPOSED (IVF-PQ residual) tier at
      // stress scale (round-20): the dense pool rides the layout-
      // dispatched front door (Similarity.annQuery), so the whole batch
      // is served from the codes-only ADC scan + bounded exact re-rank —
      // never a full-vector read of every probed cell. Value identity
      // per query against the explicit single-query ivfPqQuery
      // composition is the correctness floor; queries/s is the record.
      val pqIdx = s"$workDir/stress_pq_idx"
      val (pqN, tPqBuild) = timed {
        graft.operators.ProductQuantizer.ivfPqBuildResidual(
          emb, "vec_id", "embedding", 16, 16, 16, pqIdx)
        spark.read.parquet(s"$pqIdx/cells").count()
      }
      val pqHybridQs = (0 until 8).map(i => (i.toLong * 89L) -> lexTerms)
      val (pqHybrid, tPqHybrid) = timed {
        val r = graft.operators.TextSearch.hybridSearchMany(spark, lexIx,
          pqIdx, pqHybridQs, emb, "vec_id", "embedding", k = 10,
          poolK = 50, nProbe = 8, rerank = 200).localCheckpoint()
        r.count(); r
      }
      val pqHybridN = pqHybrid.count()
      var pqHybridDiff = 0L
      for ((qid, terms) <- pqHybridQs.take(2)) {
        import org.apache.spark.sql.expressions.Window
        val lexW = Window.orderBy(col("score").desc, col("id"))
        val lexPool = LexIndex.bm25TopKFromIndex(spark, lexIx, terms, k = 50)
          .select(col("id"), row_number().over(lexW).cast("bigint").as("rank"))
        val densePool = graft.operators.ProductQuantizer.ivfPqQuery(spark,
            pqIdx, emb.where(col("vec_id") === qid), "vec_id", "embedding",
            k = 50, nProbe = 8, rerank = 200)
          .select(col("neighbor_id").as("id"), col("rank"))
        val single = graft.operators.TextSearch
          .rrfFuse(Seq(lexPool, densePool), k = 10)
        val slice = pqHybrid.where(col("query_id") === qid.toString)
          .drop("query_id").select(single.columns.map(col): _*)
        pqHybridDiff += slice.exceptAll(single)
          .unionAll(single.exceptAll(slice)).count()
      }
      println(j("stage" -> "batched_hybrid_pq",
        "pq_vectors" -> pqN, "pq_build_seconds" -> tPqBuild,
        "queries" -> pqHybridQs.size, "seconds" -> tPqHybrid,
        "qps" -> pqHybridQs.size / math.max(1e-9, tPqHybrid),
        "rows" -> pqHybridN, "mismatches" -> pqHybridDiff))
      check(pqHybridN == pqHybridQs.size * 10L,
        s"composed batched hybrid returned $pqHybridN rows")
      check(pqHybridDiff == 0,
        s"composed batched hybrid diverged from the single-query " +
          s"ivfPqQuery composition ($pqHybridDiff rows)")

      // ---- admission UPSERT hygiene at stress scale (round-20): change
      // 10% of a factor-scale corpus and prove the fp/sig admission
      // state stays CURRENT-CONTENT-scale — old fingerprints tombstoned,
      // superseded sig rows floored, both physically dropped at
      // compaction (pre-round-20 the state accumulated every historical
      // version forever and a reverted page was silently rejected).
      val admBase = docs.select(col("doc_id").as("id"), col("text"))
      val admFp = s"$workDir/stress_adm_fp"
      val admSig = s"$workDir/stress_adm_sig"
      val admitted0 = admBase.select(col("id"),
        TextAnalysis.fingerprint(col("text")).as("fp")).localCheckpoint()
      val nDocsAdm = admitted0.count()
      admitted0.select(col("fp")).write.parquet(s"$admFp/batch=0")
      graft.operators.IncrementalDedup.buildSigIndex(
          admBase, col("id"), col("text"))
        .write.parquet(s"$admSig/batch=0")
      graft.operators.IncrementalDedup.upsertAdmission(spark, admFp,
        admSig, admitted0, 0L)
      val admChangedDocs = admBase.where(col("id") % 10 === 0)
        .select(col("id"),
          concat(col("text"), lit(" zz_changed_rev zz_changed_rev"))
            .as("text")).localCheckpoint()
      val admitted1 = admChangedDocs.select(col("id"),
        TextAnalysis.fingerprint(col("text")).as("fp")).localCheckpoint()
      admitted1.select(col("fp")).write.parquet(s"$admFp/batch=1")
      graft.operators.IncrementalDedup.buildSigIndex(
          admChangedDocs, col("id"), col("text"))
        .write.parquet(s"$admSig/batch=1")
      val (nAdmChanged, tAdmUpsert) = timed {
        graft.operators.IncrementalDedup.upsertAdmission(spark, admFp,
          admSig, admitted1, 1L)
      }
      def admRoot(d: String) = graft.operators.IncrementalDedup.readRoot(d)
      val liveFpN = graft.operators.IncrementalDedup.liveIndex(spark,
        admFp, spark.read.parquet(admRoot(admFp)), "fp").count()
      val liveSigN = graft.operators.IncrementalDedup.liveIndex(spark,
        admSig, graft.operators.IncrementalDedup.applyVersionFloors(spark,
          s"${admRoot(admSig)}/_floors",
          spark.read.parquet(admRoot(admSig)), "id"), "id").count()
      val (admCompacted, tAdmCompact) = timed {
        graft.operators.IncrementalDedup.compactFpIndex(spark, admFp)
        graft.operators.IncrementalDedup.compactSigIndex(spark, admSig)
        (spark.read.parquet(admRoot(admFp)).count(),
          spark.read.parquet(admRoot(admSig)).count())
      }
      println(j("stage" -> "admission_upsert", "docs" -> nDocsAdm,
        "changed" -> nAdmChanged, "upsert_seconds" -> tAdmUpsert,
        "live_fp" -> liveFpN, "live_sig" -> liveSigN,
        "compact_seconds" -> tAdmCompact,
        "fp_after_compact" -> admCompacted._1,
        "sig_after_compact" -> admCompacted._2))
      check(nAdmChanged == admChangedDocs.count(),
        s"upsertAdmission retired $nAdmChanged of " +
          s"${admChangedDocs.count()} changed pages")
      check(liveFpN == nDocsAdm,
        s"live fp state is not current-content-scale: $liveFpN != $nDocsAdm")
      check(liveSigN == nDocsAdm,
        s"live sig state is not current-content-scale: $liveSigN != $nDocsAdm")
      check(admCompacted._1 == nDocsAdm && admCompacted._2 == nDocsAdm,
        s"compaction left history behind: ${admCompacted}")

      // ---- reader THROUGH a live generation commit (round-19): a query
      // starts, a compact commits a NEW generation mid-flight, and the
      // query must complete exactly — the generation-pinned read path
      // (commitGeneration retains the previous generation for one full
      // swap of grace; the old rename-aside swap moved the files a
      // mid-scan reader had planned against). No pending tombstones here,
      // so both generations answer identically and exactness is checkable
      // regardless of which side of the commit the reader landed on.
      val readThroughExpect = LexIndex
        .bm25TopKFromIndex(spark, lexIx, lexTerms, k = 20)
        .collect().toSeq.toSet
      @volatile var readerErr: Throwable = null
      @volatile var readerRows: Set[org.apache.spark.sql.Row] = null
      val readerThread = new Thread(() => {
        try readerRows = LexIndex
          .bm25TopKFromIndex(spark, lexIx, lexTerms, k = 20)
          .collect().toSet
        catch { case t: Throwable => readerErr = t }
      })
      val (liveThrough, tReadThrough) = timed {
        readerThread.start()
        val n = LexIndex.compact(spark, lexIx)
        readerThread.join(300000L)
        n
      }
      println(j("stage" -> "reader_through_compact",
        "seconds" -> tReadThrough, "live_docs" -> liveThrough,
        "reader_failed" -> (readerErr != null),
        "reader_rows" -> (if (readerRows == null) -1 else readerRows.size),
        "exact" -> (readerRows == readThroughExpect)))
      check(readerErr == null,
        s"reader died racing the live compact: $readerErr")
      check(readerRows == readThroughExpect,
        "reader racing the live compact returned wrong rows")

      // ---- lease contention under REAL operators at stress scale
      // (round-18): a writer holding the fp-index lease mid-batch makes a
      // concurrent takedown fail LOUDLY (contention can never interleave
      // with the holder's read-modify-write), and an ann-maintain racing a
      // mid-append holder loses the same way; both deferred retries land
      // after release, the takedown is not lost, and admission state stays
      // exact (no duplicate admission, no corruption) on the 50k corpus.
      import graft.operators.{IncrementalDedup, IndexLease}
      val takeSlice = docs.where(col("doc_id") % 89 === 0)
        .select(md5(col("text")).as("fp")).distinct().localCheckpoint()
      val nSlice = takeSlice.count()
      // DISTINCT fps: the arc's compact collapses duplicate rows across
      // delta batches, so only the set size is conserved arithmetic
      def fpLive() = IncrementalDedup.liveIndex(spark, fpIx,
        spark.read.parquet(fpIx).select(col("fp")), "fp")
        .select(col("fp")).distinct()
      val fpLiveBefore = fpLive().count()
      val (leaseRecord, tLease) = timed {
        // arc 1: the holder runs a REAL lifecycle op (compactFpIndex, a
        // reentrant frame) inside an explicit lease parked at a barrier,
        // so the takedown provably lands mid-hold
        val entered = new java.util.concurrent.CountDownLatch(1)
        val proceed = new java.util.concurrent.CountDownLatch(1)
        val holderErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val holder = new Thread(() => {
          try IndexLease.withLease(fpIx) {
            entered.countDown()
            proceed.await()
            IncrementalDedup.compactFpIndex(spark, fpIx)
            ()
          } catch { case t: Throwable => holderErr.set(t) }
        })
        holder.start(); entered.await()
        val takedownBlocked =
          try { IncrementalDedup.deleteFingerprints(spark, fpIx, takeSlice); false }
          catch { case _: IllegalStateException => true }
        proceed.countDown(); holder.join()
        val nTake = IncrementalDedup.deleteFingerprints(spark, fpIx, takeSlice)
        // arc 2: ann-maintain racing a mid-append holder on the main index
        val entered2 = new java.util.concurrent.CountDownLatch(1)
        val proceed2 = new java.util.concurrent.CountDownLatch(1)
        val holder2Err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val holder2 = new Thread(() => {
          try IndexLease.withLease(idx) {
            entered2.countDown()
            proceed2.await()
            Similarity.ivfAppend(spark, idx,
              emb.select((col("vec_id") + 9L * nVecs).as("vec_id"),
                col("embedding")),
              "vec_id", "embedding")
            ()
          } catch { case t: Throwable => holder2Err.set(t) }
        })
        holder2.start(); entered2.await()
        val maintainBlocked =
          try { graft.operators.AnnMaintenance.maintain(spark, idx); false }
          catch { case _: IllegalStateException => true }
        proceed2.countDown(); holder2.join()
        val retried = graft.operators.AnnMaintenance.maintain(spark, idx)
        (takedownBlocked, nTake, maintainBlocked, retried,
          Option(holderErr.get()), Option(holder2Err.get()))
      }
      val (takedownBlocked, nTake, maintainBlocked, retriedDecision,
        holderFail, holder2Fail) = leaseRecord
      val fpLiveAfter = fpLive().count()
      println(j("stage" -> "lease_contention", "seconds" -> tLease,
        "takedown_blocked_loudly" -> takedownBlocked,
        "takedown_keys" -> nTake,
        "maintain_blocked_loudly" -> maintainBlocked,
        "retry_maintain_rebuilt" -> retriedDecision.rebuilt,
        "live_before" -> fpLiveBefore, "live_after" -> fpLiveAfter))
      check(holderFail.isEmpty, s"lease holder 1 failed: $holderFail")
      check(holder2Fail.isEmpty, s"lease holder 2 failed: $holder2Fail")
      check(takedownBlocked,
        "a takedown during a held fp lease did not fail loudly")
      check(maintainBlocked,
        "ann-maintain during a held index lease did not fail loudly")
      check(nTake == nSlice,
        s"deferred takedown lost keys: $nTake of $nSlice")
      check(fpLiveAfter == fpLiveBefore - nSlice,
        s"live fp count after the arc: $fpLiveAfter, expected " +
          s"${fpLiveBefore - nSlice} (compact + takedown must compose exactly)")
      check(!graft.operators.IndexFs.exists(IndexLease.leasePath(fpIx)) &&
        !graft.operators.IndexFs.exists(IndexLease.leasePath(idx)),
        "a lease marker leaked after the contention arcs")

      // ---- SRP-LSH embedding near-dups with NO blocking assumption at
      // 2x-factor vectors (100k at the default factor). The corpus has
      // KNOWN cluster structure: each base vector spawns sub-clusters of
      // `subSize` near-identical replicas, and a deterministic per-
      // sub-cluster sign-flip pattern makes DIFFERENT sub-clusters
      // near-orthogonal — so exactly the within-sub-cluster pairs sit above
      // the threshold. Banding is sized to the corpus via srpBandingFor
      // (under-sized bands drown in n²·2^-bandBits random collisions). The
      // only shuffles are (band, id) keys and candidate ids — vectors never
      // ride a shuffle.
      val lshFactor = factor * 2
      val subSize = 10
      val lshEmbPath = s"$workDir/emb_lsh"
      stressEmbeddings(spark, sfDir, lshFactor)
        .withColumn("sub",
          (col("vec_id") % lshFactor).cast("bigint") / subSize)
        .select(col("vec_id"),
          transform(col("embedding"), (x, jIdx) =>
            (x * when(pmod(xxhash64((col("vec_id") / lshFactor).cast("bigint"),
              col("sub").cast("bigint"), jIdx), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).cast("float")).as("embedding"))
        .write.mode("overwrite").parquet(lshEmbPath)
      val lshEmb = spark.read.parquet(lshEmbPath)
      val nLshVecs = lshEmb.count()
      def clusterOf(v: org.apache.spark.sql.Column) =
        concat_ws("_", (v / lshFactor).cast("bigint"),
          (pmod(v, lit(lshFactor)) / subSize).cast("bigint"))
      val expectedPairs = lshEmb
        .groupBy(clusterOf(col("vec_id")).as("c")).count()
        .agg(sum((col("count") * (col("count") - 1) / 2).cast("bigint")))
        .collect().head.getLong(0)
      val (bandBits, nBands) = Similarity.srpBandingFor(nLshVecs, threshold = 0.9)
      val (lshCounts, tLsh) = timed {
        Similarity.embeddingNearDupsLsh(
          lshEmb, "vec_id", "embedding", threshold = 0.9, bandBits, nBands)
          .agg(count(lit(1)).as("pairs"),
            count(when(clusterOf(col("id_a")) =!= clusterOf(col("id_b")), 1))
              .as("cross")).collect().head
      }
      val (lshPairs, crossCluster) = (lshCounts.getLong(0), lshCounts.getLong(1))
      println(j("stage" -> "emb_lsh_neardups", "seconds" -> tLsh,
        "vectors" -> nLshVecs, "band_bits" -> bandBits, "n_bands" -> nBands,
        "pairs" -> lshPairs, "expected" -> expectedPairs,
        "cross_cluster" -> crossCluster))
      check(crossCluster == 0, s"LSH emitted $crossCluster cross-cluster phantom pairs")
      check(lshPairs >= (expectedPairs * 0.99).toLong && lshPairs <= expectedPairs,
        s"LSH pair count off: $lshPairs of $expectedPairs within-cluster pairs")

      // ---- text pipeline throughput: chunk + redact the full corpus
      val (chunkRows, tChunk) = timed {
        TextPipeline.chunk(docs, col("doc_id"), col("text"), window = 64, stride = 32)
          .select(col("id"), md5(col("chunk_text")))
          .write.format("noop").mode("overwrite").save()
        TextPipeline.chunk(docs, col("doc_id"), col("text"), window = 64, stride = 32).count()
      }
      val (redactRows, tRedact) = timed {
        docs.select(md5(TextPipeline.redactPii(col("text")))).write
          .format("noop").mode("overwrite").save()
        nDocs
      }
      println(j("stage" -> "text_pipeline", "chunk_seconds" -> tChunk,
        "chunks" -> chunkRows, "redact_seconds" -> tRedact, "docs" -> redactRows))
      check(chunkRows >= nDocs, s"every doc must yield >=1 chunk ($chunkRows < $nDocs)")

      // ---- heavy hitters: one pass, k counters, no frequency-table shuffle
      val (hh, tHh) = timed {
        HeavyHitters.frequentItems(
          docs.select(explode(split(lower(col("text")), "\\s+")).as("tok"))
            .where(length(col("tok")) > 0), "tok", k = 50).collect()
      }
      println(j("stage" -> "heavy_hitters", "seconds" -> tHh, "survivors" -> hh.length))
      check(hh.length <= 50 && hh.nonEmpty, s"heavy hitters returned ${hh.length} rows")

      // ---- bloom semi join: prefilter must prune, composition stays exact
      val buildSide = docs.select(col("doc_id")).where(pmod(col("doc_id"), lit(997)) === 0)
      val (bloomOk, tBloom) = timed {
        val got = BloomJoin.semiJoin(docs, col("doc_id"), buildSide, col("doc_id")).count()
        val exact = docs.join(buildSide.distinct(), Seq("doc_id"), "left_semi").count()
        got == exact
      }
      val bloom = BloomJoin.build(buildSide, col("doc_id"))
      val prefiltered = docs.where(BloomJoin.mightContain(bloom, col("doc_id"))).count()
      println(j("stage" -> "bloom_semi_join", "seconds" -> tBloom,
        "exact_match" -> bloomOk, "prefiltered" -> prefiltered, "of" -> nDocs))
      check(bloomOk, "bloom semi join diverged from the exact semi join")
      check(prefiltered < nDocs / 10,
        s"bloom prefilter kept $prefiltered of $nDocs rows — not pruning")

      // ---- bloom build far past driver-collect territory: 10M keys never
      // leave the executors (distributed bit_or aggregation); the driver
      // artifact is the clamped word table only
      val bigBuild = spark.range(0, 10000000L).select((col("id") * 31 + 7).as("k"))
      val (bigBloom, tBigBloom) = timed {
        BloomJoin.build(bigBuild, col("k"), bitsPerKey = 16, k = 5)
      }
      val (bigMissed, tBigProbe) = timed {
        bigBuild.sample(0.01, seed = 42)
          .where(!BloomJoin.mightContain(bigBloom, col("k"))).count()
      }
      println(j("stage" -> "bloom_large_build", "build_seconds" -> tBigBloom,
        "probe_seconds" -> tBigProbe, "num_bits" -> bigBloom.numBits,
        "missed" -> bigMissed))
      check(bigMissed == 0, s"bloom large build: $bigMissed false negatives")
      check(bigBloom.numBits.toLong <= BloomJoin.MaxBits,
        s"bloom table exceeded MaxBits: ${bigBloom.numBits}")

      // ---- snapshot maintenance: upsert + CDC diff at corpus size
      val updates = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("text", concat(lit("U "), col("doc_id").cast("string")))
      val (mergedCount, tUpsert) = timed {
        Merge.upsert(docs, updates, "doc_id").count()
      }
      val (changeCounts, tDiff) = timed {
        Merge.diff(docs, Merge.upsert(docs, updates, "doc_id"), "doc_id")
          .groupBy("change").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val nUpdates = updates.count()
      val nChanged: Long = changeCounts.getOrElse("changed", 0L)
      println(j("stage" -> "merge_ops", "upsert_seconds" -> tUpsert,
        "diff_seconds" -> tDiff, "merged" -> mergedCount,
        "changed" -> nChanged))
      check(mergedCount == nDocs, s"upsert changed the row count: $mergedCount vs $nDocs")
      check(changeCounts == Map("changed" -> nUpdates),
        s"diff expected exactly $nUpdates changed rows, got $changeCounts")

      // ---- z-order layout: per-file ranges must stay narrow in BOTH dims
      val zsrc = docs.select(col("doc_id"), length(col("text")).cast("bigint").as("len"))
      val zPath = s"$workDir/zorder"
      val (_, tZorder) = timed {
        Layout.zorderWrite(zsrc, zPath, col("doc_id"), col("len"), numFiles = 16, bits = 16)
      }
      val global = zsrc.agg(
        (max("doc_id") - min("doc_id")).cast("double").as("dr"),
        (max("len") - min("len")).cast("double").as("lr")).collect().head
      val zfiles = new java.io.File(zPath).listFiles().filter(_.getName.endsWith(".parquet"))
      val ratios = zfiles.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath).agg(
          (max("doc_id") - min("doc_id")).cast("double").as("dr"),
          (max("len") - min("len")).cast("double").as("lr")).collect().head
        (r.getDouble(0) / global.getDouble(0), r.getDouble(1) / global.getDouble(1))
      }
      val avgD = ratios.map(_._1).sum / ratios.length
      val avgL = ratios.map(_._2).sum / ratios.length
      println(j("stage" -> "zorder_layout", "seconds" -> tZorder,
        "files" -> zfiles.length, "avg_range_ratio_docid" -> avgD,
        "avg_range_ratio_len" -> avgL))
      check(avgD < 0.7 && avgL < 0.7,
        f"z-order per-file ranges too wide (doc_id $avgD%.2f, len $avgL%.2f)")

      // ---- read-side proof: a 2-D range predicate over the z-ordered table
      // must skip files via footer stats AND return exactly the full-scan rows
      val zmax = zsrc.agg(max("doc_id"), max("len")).collect().head
      val (dHi, lHi) = (zmax.getLong(0) / 10, zmax.getLong(1) / 2)
      val ((zkept, ztotal, zrowsOk), tSkip) = timed {
        val (pruned, kept, total) = Layout.statsPrunedRead(spark, zPath,
          Seq(("doc_id", 0L, dHi), ("len", 0L, lHi)))
        val got = pruned.where(col("doc_id") <= dHi && col("len") <= lHi).count()
        val expected = zsrc.where(col("doc_id") <= dHi && col("len") <= lHi).count()
        (kept, total, got == expected)
      }
      println(j("stage" -> "zorder_skip_read", "seconds" -> tSkip,
        "files_kept" -> zkept, "files_total" -> ztotal))
      check(zkept < ztotal, s"z-order read skipped nothing ($zkept of $ztotal)")
      check(zrowsOk, "stats-pruned read lost or invented rows")

      // ---- line-level boilerplate removal over the full corpus: the
      // replicated base text means every 4-token line of an original doc
      // recurs in all its replicas — heavy df traffic, exactly the shape a
      // crawl with shared templates produces. Only line hashes shuffle.
      val lined = docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("__t"))
        .select(col("doc_id"), concat_ws("\n",
          transform(sequence(lit(0), ((size(col("__t")) - 1) / 4).cast("int")),
            i => array_join(slice(col("__t"), i * 4 + 1, lit(4)), " "))).as("text"))
      val ((blRows, blRemoved), tBl) = timed {
        val r = TextPipeline.dedupLines(lined, col("doc_id"), col("text"),
          "\n", minDf = factor.toLong + 1)
        (r.count(), r.agg(sum(col("n_removed"))).collect().head.getLong(0))
      }
      println(j("stage" -> "boilerplate_lines", "seconds" -> tBl,
        "docs" -> blRows, "lines_removed" -> blRemoved))
      check(blRows == nDocs, s"dedupLines must keep every doc row ($blRows of $nDocs)")
      check(blRemoved > 0, "stress corpus must trigger some boilerplate removal")

      // ---- duplicated-span scan: replicas share their entire base text, so
      // nearly every doc must report a dominant duplicated span; windows are
      // hashed pre-shuffle and the island merge is per-doc.
      val ((spanRows, spanDocs), tSpan) = timed {
        val r = TextPipeline.duplicateSpans(docs, col("doc_id"), col("text"),
          k = 8, minDocs = 2)
        (r.count(), r.where(col("dup_frac") > 0.5).count())
      }
      println(j("stage" -> "duplicate_spans", "seconds" -> tSpan,
        "docs" -> spanRows, "docs_mostly_dup" -> spanDocs))
      check(spanRows == nDocs, s"duplicateSpans must emit one row per doc ($spanRows)")
      check(spanDocs > nDocs / 2,
        s"replicated corpus must be mostly duplicated spans ($spanDocs of $nDocs)")

      // ---- SemDeDup at scale: 64 clusters bound the within-cluster
      // candidate joins; the drift replicas collapse, distinct bases survive.
      val (semSurvivors, tSem) = timed {
        graft.operators.Clustering.semDedup(
          emb, col("vec_id"), col("embedding"),
          k = 64, tau = 0.9999, maxIters = 2)
          .where(col("survivor")).count()
      }
      println(j("stage" -> "sem_dedup", "seconds" -> tSem,
        "survivors" -> semSurvivors, "vectors" -> nVecs))
      check(semSurvivors < nVecs / 2,
        s"drift replicas should collapse ($semSurvivors of $nVecs survive)")
      check(semSurvivors >= nVecs / factor,
        s"distinct bases must survive ($semSurvivors of $nVecs)")

      // ---- ingest round-trip + vocab encode: JSONL shards out, quarantine
      // split back in (count parity proves the writer emits valid records),
      // then the full corpus encodes against a top-1k vocabulary with OOV
      // accounting — 7M+ token rows through the broadcast join.
      val jsonlPath = s"$workDir/jsonl"
      val ((rtRows, rtBad), tJsonl) = timed {
        graft.sinks.DataSinks.writeJsonl(
          docs.select(col("doc_id"), col("text"), col("lang")), jsonlPath, shards = 8)
        val (good, bad) = graft.sources.JsonlCorpus.readWithQuarantine(
          spark, jsonlPath, "doc_id BIGINT, text STRING, lang STRING")
        (good.count(), bad.count())
      }
      println(j("stage" -> "jsonl_roundtrip", "seconds" -> tJsonl,
        "rows" -> rtRows, "quarantined" -> rtBad))
      check(rtRows == nDocs && rtBad == 0,
        s"JSONL round-trip must be lossless ($rtRows of $nDocs, $rtBad bad)")

      val ((encDocs, oovTokens), tVocab) = timed {
        val vocab = graft.operators.Vocab.build(docs, col("text"), size = 1000)
        val enc = graft.operators.Vocab.encode(docs, col("doc_id"), col("text"), vocab)
        (enc.count(), enc.agg(sum(col("n_oov"))).collect().head.getLong(0))
      }
      println(j("stage" -> "vocab_encode", "seconds" -> tVocab,
        "docs" -> encDocs, "oov_tokens" -> oovTokens))
      check(encDocs == nDocs, s"every doc must encode ($encDocs of $nDocs)")
      // replica-drift tokens (u<doc>_<rep>_<j>) are unique -> guaranteed OOV
      check(oovTokens > 0, "the drifted corpus must contain OOV tokens")

      // ---- bigram LM fluency at factor scale: model train + join-back;
      // every (multi-token) doc must come back scored
      val (lmRows, tLm) = timed {
        LanguageModel.bigramFluency(docs, col("doc_id"), col("text")).count()
      }
      println(j("stage" -> "bigram_lm", "seconds" -> tLm, "docs_scored" -> lmRows))
      check(lmRows == nDocs, s"every doc must score ($lmRows of $nDocs)")

      // ---- URL canonicalization dedup: heavy collisions by construction —
      // canonical space is <= 97*7 forms, so survivors collapse hard
      val urlExpr = concat(lit("HTTPS://WWW.example.org:443/p/"),
        (col("doc_id") % 97).cast("string"),
        lit("?utm_source=x&id="), (col("doc_id") % 7).cast("string"))
      val ((urlSurv, urlRows), tUrl) = timed {
        val u = WebOps.dedupByCanonicalUrl(
          docs.withColumn("url", urlExpr), col("url"), col("doc_id"))
        (u.filter(col("url_survivor")).count(), u.count())
      }
      println(j("stage" -> "url_canon_dedup", "seconds" -> tUrl,
        "rows" -> urlRows, "survivors" -> urlSurv))
      check(urlRows == nDocs, s"dedup must preserve rows ($urlRows of $nDocs)")
      check(urlSurv < nDocs / 2, s"synthesized collisions must dedup ($urlSurv of $nDocs)")

      // ---- BPE training on the drifted corpus (distinct words grow with
      // the drift tokens) + whole-corpus decode round-trip
      val ((bpeMerges, bpeViol), tBpe) = timed {
        val model = Bpe.train(docs, col("text"), numMerges = 12)
        val viol = docs.select(
          sum(size(filter(zip_with(Bpe.words(col("text")),
            Bpe.encode(col("text"), model),
            (w, sy) => concat_ws("", sy) =!= w), x => x))).as("v"))
          .collect()(0).getLong(0)
        (model.merges.size, viol)
      }
      println(j("stage" -> "bpe_train", "seconds" -> tBpe,
        "merges" -> bpeMerges, "roundtrip_violations" -> bpeViol))
      check(bpeMerges == 12, s"corpus must support 12 merges (got $bpeMerges)")
      check(bpeViol == 0, s"BPE decode round-trip violated $bpeViol words")

      // ---- count-min over the factor corpus tokens: cell count stays fixed
      // while cardinality grows with factor; estimates never undercount
      val ((cmsCells, cmsUnder), tCms) = timed {
        val toks = docs.select(explode(Bpe.words(col("text"))).as("w"))
        val sk = CountMin.sketch(toks, col("w"), 4, 2048)
        val est = CountMin.estimate(sk, toks, col("w"), 4, 2048)
        val exact = toks.groupBy(col("w")).agg(count(lit(1)).cast("bigint").as("exact"))
        (sk.count(),
          exact.join(est, col("w") === col("k")).filter(col("est") < col("exact")).count())
      }
      println(j("stage" -> "cms_tokens", "seconds" -> tCms,
        "cells" -> cmsCells, "underestimates" -> cmsUnder))
      check(cmsCells <= 4L * 2048, s"sketch must stay bounded ($cmsCells cells)")
      check(cmsUnder == 0, s"count-min must never undercount ($cmsUnder keys)")

      // ---- corpus-wide paragraph dedup: paragraphs drawn from a small
      // canonical space collapse hard at factor scale; rows are preserved
      // and each distinct paragraph survives exactly once
      val ((pdRows, pdKept, pdDistinct), tPara) = timed {
        val nPar = col("doc_id") % 5 + 4
        val paras = transform(sequence(lit(0L), nPar - 1), jj =>
          concat(lit("para "), ((col("doc_id") * 7 + jj * 13) % 997).cast("string")))
        val synth = docs.select(col("doc_id"), concat_ws("\n\n", paras).as("ptext"))
        val out = ParagraphDedup.dedupParagraphs(synth, col("doc_id"), col("ptext"))
        (out.count(),
          out.agg(sum(col("n_kept"))).collect()(0).getLong(0),
          ParagraphDedup.explodeParagraphs(synth, col("doc_id"), col("ptext"))
            .select(col("para")).distinct().count())
      }
      println(j("stage" -> "para_dedup", "seconds" -> tPara, "rows" -> pdRows,
        "kept" -> pdKept, "distinct_paras" -> pdDistinct))
      check(pdRows == nDocs, s"para dedup must preserve docs ($pdRows of $nDocs)")
      check(pdKept == pdDistinct,
        s"each distinct paragraph survives exactly once ($pdKept vs $pdDistinct)")

      // ---- keyless interval join: result is bucket-width invariant and
      // every pair is emitted exactly once regardless of blocking grain
      val ((ij1, ij2), tIj) = timed {
        val pts = docs.select(col("doc_id").as("pid"),
          (col("doc_id") % 1000000L).as("pt"))
        val ivs = docs.where(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("iid"), (col("doc_id") % 1000000L).as("lo"),
            (col("doc_id") % 1000000L + 37).as("hi"))
        (IntervalJoin.pointInInterval(pts, col("pt"), ivs, col("lo"), col("hi"), 64L).count(),
          IntervalJoin.pointInInterval(pts, col("pt"), ivs, col("lo"), col("hi"), 4096L).count())
      }
      println(j("stage" -> "interval_join", "seconds" -> tIj, "pairs" -> ij1))
      check(ij1 == ij2 && ij1 > 0,
        s"interval join must be bucket-width invariant ($ij1 vs $ij2)")

      // ---- containment join on a bounded replica slice: replica drift is
      // APPEND-ONLY, so orig -> replica containment is exactly 1 and every
      // same-base ordered (orig, replica) pair must be found
      val nBase = nDocs / factor
      val ((cjPairs, cjOrig), tCj) = timed {
        val slice = docs.where(pmod(col("doc_id"), lit(factor.toLong)) < 4)
        val shing = slice.select(col("doc_id"),
          TextAnalysis.wordShingles(col("text"), 3).as("sh"))
        val cj = ContainmentJoin
          .containmentJoin(shing, col("doc_id"), col("sh"), 9, 10)
        val orig = cj.where(pmod(col("a"), lit(factor.toLong)) === 0 &&
          call_function("div", col("a"), lit(factor.toLong)) ===
            call_function("div", col("b"), lit(factor.toLong))).count()
        (cj.count(), orig)
      }
      println(j("stage" -> "containment_join", "seconds" -> tCj,
        "pairs" -> cjPairs, "orig_to_replica" -> cjOrig))
      check(cjOrig == nBase * 3,
        s"all orig->replica containments must surface ($cjOrig of ${nBase * 3})")

      // ---- sparse projection at factor vectors: linear, shuffle-free
      val (projRows, tProj) = timed {
        val w = Projection.sparseWeights(64, 8)
        emb.select(col("vec_id") +: Projection.project(col("embedding"), w)
          .zipWithIndex.map { case (c, jj) => c.as(s"p$jj") }: _*).count()
      }
      println(j("stage" -> "sparse_projection", "seconds" -> tProj, "rows" -> projRows))
      check(projRows == nVecs, s"projection must cover all vectors ($projRows of $nVecs)")

      // ---- governance trio at factor scale: leakage splits stay leakage-
      // free, politeness rounds respect the per-domain cap, quality rules
      // stay a total boolean
      val ((worstSplit, worstRound, keepCount), tGov) = timed {
        val s1 = docs
          .select(col("source"), Splits.assign(col("source"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("sp"))
          .groupBy(col("source")).agg(countDistinct(col("sp")).as("n"))
          .agg(max(col("n"))).collect()(0).getLong(0)
        val urls = docs.select(col("doc_id"),
          concat(lit("https://d"), (col("doc_id") % 1000).cast("string"),
            lit(".org/p")).as("url"))
        val s2 = WebOps.politenessRounds(urls, col("url"), col("doc_id"),
            col("doc_id"), perRound = 8)
          .groupBy(col("domain"), col("fetch_round")).count()
          .agg(max(col("count"))).collect()(0).getLong(0)
        val s3 = docs.where(QualityRules.keep(col("text"))).count()
        (s1, s2, s3)
      }
      println(j("stage" -> "governance", "seconds" -> tGov,
        "max_splits_per_group" -> worstSplit, "max_urls_per_round" -> worstRound,
        "gopher_kept" -> keepCount))
      check(worstSplit == 1, s"a leakage group straddles splits ($worstSplit)")
      check(worstRound <= 8, s"politeness cap violated ($worstRound > 8)")
      check(keepCount <= nDocs, "gopher keep must be a subset")

      // ---- quantile sketch at factor scale: bucket cardinality stays
      // BOUNDED no matter the corpus size (the whole point of the sketch —
      // <= 64 * 2^subBits rows ever exist), and split-and-merge stays
      // bit-identical to sketching the union
      val ((qBuckets, qMergeDiff), tQuant) = timed {
        val lens = docs.select(col("doc_id"), length(col("text")).cast("bigint").as("len"))
        val whole = graft.operators.QuantileHist.sketch(lens, col("len"))
        val merged = graft.operators.QuantileHist.merge(
          graft.operators.QuantileHist.sketch(lens.where(col("doc_id") % 2 === 0), col("len")),
          graft.operators.QuantileHist.sketch(lens.where(col("doc_id") % 2 =!= 0), col("len")))
        (whole.count(),
          whole.exceptAll(merged).count() + merged.exceptAll(whole).count())
      }
      println(j("stage" -> "quantile_sketch", "seconds" -> tQuant,
        "buckets" -> qBuckets, "merge_diff" -> qMergeDiff))
      check(qBuckets <= 64 * 16, s"bucket cardinality unbounded ($qBuckets)")
      check(qMergeDiff == 0, s"quantile merge not identical ($qMergeDiff rows differ)")

      // ---- HITS on a factor-scaled host graph: nodes grow with the corpus
      // (one host per 5 docs, quadratic in-degree spread), scores stay
      // L1-normalized, every node gets a row
      val ((hitsNodes, hitsMassOk), tHits) = timed {
        val nHosts = math.max(50L, nDocs / 5)
        val m = col("doc_id") % (nHosts - 3)
        val edges = docs.select(
          concat(lit("h"), (col("doc_id") % nHosts).cast("string")).as("src"),
          concat(lit("h"), ((m * m + 3) % (nHosts - 3)).cast("string")).as("dst"))
        val r = graft.operators.Hits.hits(edges, col("src"), col("dst"), iters = 2)
        val masses = r.scores
          .agg(sum(col("hub")).cast("decimal(38,18)"),
            sum(col("auth")).cast("decimal(38,18)")).collect()(0)
        (r.scores.count(),
          Seq(masses.getDecimal(0), masses.getDecimal(1))
            .forall(x => (BigDecimal(x) - 1).abs < BigDecimal("1e-8")))
      }
      println(j("stage" -> "hits_scale", "seconds" -> tHits,
        "nodes" -> hitsNodes, "mass_ok" -> hitsMassOk))
      check(hitsNodes >= nDocs / 5, s"hits must cover the host space ($hitsNodes)")
      check(hitsMassOk, "hits scores not L1-normalized at scale")

      // ---- link extraction at factor scale: one codegen'd pattern +
      // Generate per page, so links grow exactly linearly; the host-edge
      // aggregation is bounded by the HOST-PAIR space (policy-sized),
      // never by the corpus
      val ((nLinks, nHostEdges, sumEdgeLinks), tLk) = timed {
        val pages = docs.select(
          concat(lit("https://s"), pmod(col("doc_id"), lit(509L)).cast("string"),
            lit(".net/page")).as("page"),
          concat(lit("<p>intro</p>"),
            concat_ws("", transform(sequence(lit(0), lit(2)), jj =>
              concat(lit("<a href=\"https://d"),
                pmod(col("doc_id") + jj, lit(997L)).cast("string"),
                lit(".org/p\">x</a>")))))
            .as("html"))
        val links = WebOps.linkEdges(pages, col("page"), col("html"))
        val edges = links.select(WebOps.host(col("id")).as("src_host"),
            col("url_host").as("dst_host"))
          .groupBy(col("src_host"), col("dst_host"))
          .agg(count(lit(1)).as("n_links"))
        (links.count(), edges.count(),
          edges.agg(sum(col("n_links"))).collect()(0).getLong(0))
      }
      println(j("stage" -> "link_extraction", "seconds" -> tLk,
        "links" -> nLinks, "host_edges" -> nHostEdges))
      check(nLinks == nDocs * 3,
        s"every page contributes its 3 links ($nLinks of ${nDocs * 3})")
      check(sumEdgeLinks == nLinks,
        s"host-edge aggregation must conserve links ($sumEdgeLinks of $nLinks)")
      check(nHostEdges <= 509L * 997L,
        s"host-edge cardinality must stay policy-bounded ($nHostEdges)")

      // ---- robots admission at factor scale: corpus-sized URL table
      // against a policy-sized rule table (997 hosts, one Disallow each) —
      // cardinality preserved per input row, admission decisions exact
      val ((robAdmitted, robBlocked, robExpectBlocked), tRob) = timed {
        val urls = docs.select(col("doc_id"),
          concat(lit("https://d"), pmod(col("doc_id"), lit(997L)).cast("string"),
            lit(".org/"),
            when(col("doc_id") % 3 === 0, lit("private/x"))
              .otherwise(lit("public/y"))).as("url"))
        val hosts = spark.range(997).select(
          concat(lit("d"), col("id").cast("string"), lit(".org")).as("rid"),
          lit("User-agent: *\r\nDisallow: /private/\r\n").as("body"))
        val rules = graft.operators.Robots
          .parseRules(hosts, col("rid"), col("body"))
          .withColumnRenamed("id", "host")
        val dec = graft.operators.Robots
          .isAllowed(urls, col("url"), "graftbot", rules)
        (dec.where(col("allowed")).count(), dec.where(!col("allowed")).count(),
          urls.where(col("doc_id") % 3 === 0).count())
      }
      println(j("stage" -> "robots_admission", "seconds" -> tRob,
        "admitted" -> robAdmitted, "blocked" -> robBlocked))
      check(robAdmitted + robBlocked == nDocs,
        s"admission must preserve cardinality (${robAdmitted + robBlocked} of $nDocs)")
      check(robBlocked == robExpectBlocked,
        s"exactly the /private/ URLs must be blocked ($robBlocked of $robExpectBlocked)")

      // ---- incremental admission at factor scale: the second half of the
      // corpus dedups against the fingerprint index of the first half —
      // index traffic is hashes-only, and the admitted set must be EXACTLY
      // the batch's fresh-fingerprint winners (count identity re-derived
      // independently over the same hash frames)
      val ((incAdmitted, incExpected), tInc) = timed {
        val fp = md5(col("text"))
        val oldHalf = docs.where(col("doc_id") % 2 === 0)
        val batch = docs.where(col("doc_id") % 2 =!= 0)
        val index = graft.operators.IncrementalDedup.buildIndex(oldHalf, fp)
        val admitted = graft.operators.IncrementalDedup
          .admit(batch, index, fp, col("doc_id"))
        val expected = batch.select(fp.as("fp"))
          .join(index, Seq("fp"), "left_anti").select(col("fp")).distinct().count()
        (admitted.count(), expected)
      }
      println(j("stage" -> "incremental_admission", "seconds" -> tInc,
        "admitted" -> incAdmitted, "expected" -> incExpected))
      check(incAdmitted == incExpected,
        s"admission must keep one winner per fresh fingerprint ($incAdmitted of $incExpected)")

      // ---- sketch-driven threshold filter at factor scale: per-language
      // cutoffs stay ONE bounded sketch aggregation + a broadcast join no
      // matter the corpus size; the filter keeps at least the mass above
      // each group's true quantile (errs on the keep side, never over-deletes)
      val ((thrKept, thrTotal, thrCuts), tThr) = timed {
        val lens = docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("bigint").as("len"))
        val cuts = graft.operators.QuantileHist.estimateBy(
          graft.operators.QuantileHist.sketchBy(lens, col("lang"), col("len")),
          1L, 4L).count()
        val kept = graft.operators.QuantileHist
          .thresholdFilter(lens, col("lang"), col("len"), 1L, 4L).count()
        (kept, lens.where(col("len") > 0).count(), cuts)
      }
      println(j("stage" -> "sketch_threshold", "seconds" -> tThr,
        "kept" -> thrKept, "total" -> thrTotal, "cutoffs" -> thrCuts))
      check(thrKept * 4 >= thrTotal * 3,
        s"p25 floor must keep at least three quarters ($thrKept of $thrTotal)")
      check(thrKept < thrTotal, "a length floor that drops nothing filtered nothing")
      check(thrCuts <= 64, s"one cutoff per language expected ($thrCuts)")

      // ---- content extraction at factor scale: a pure narrow projection —
      // cardinality preserved row-for-row, chrome lines dropped everywhere
      // (every synthesized page carries exactly 3 chrome lines around its
      // body), no corpus statistics involved
      val ((ceRows, ceChromeOk), tCe) = timed {
        val pages = docs.select(col("doc_id"),
          concat_ws("\n", lit("Home | About | Contact"), col("text"),
            lit("| | --- | |"), lit("(c) stress footer")).as("page"))
        val out = graft.operators.TextPipeline.extractContent(
          pages, col("doc_id"), col("page"), minLineChars = 32, minAlnumPct = 50)
        (out.count(),
          out.where(col("n_total") - col("n_kept") < 3).count() == 0)
      }
      println(j("stage" -> "content_extract", "seconds" -> tCe,
        "rows" -> ceRows, "chrome_dropped" -> ceChromeOk))
      check(ceRows == nDocs, s"extraction must preserve cardinality ($ceRows of $nDocs)")
      check(ceChromeOk, "all three chrome lines must be dropped on every page")

      // ---- NEAR-dup admission at factor scale: signature-index state only
      // (k longs/doc), banded candidate generation; exact text copies of
      // indexed docs can never leak through (identical sig collides in
      // every band), and the admitted set is partitioning-invariant
      val ((ndBatch, ndAdmitted, ndExactLeaks, ndRepartDiff), tNd) = timed {
        val idxDocs = docs.where(col("doc_id") % 2 === 0)
        val bt = docs.where(col("doc_id") % 2 =!= 0)
        val sigIdx = graft.operators.IncrementalDedup
          .buildSigIndex(idxDocs, col("doc_id"), col("text")).localCheckpoint()
        val adm = graft.operators.IncrementalDedup
          .admitNearDup(bt, sigIdx, "doc_id", "text").localCheckpoint()
        val idxHashes = idxDocs.select(md5(col("text")).as("h")).distinct()
        val leaks = adm.select(md5(col("text")).as("h")).join(idxHashes, Seq("h")).count()
        val adm2 = graft.operators.IncrementalDedup
          .admitNearDup(bt.repartition(7, col("source")), sigIdx, "doc_id", "text")
          .select(col("id"))
        val a1 = adm.select(col("id"))
        (bt.count(), adm.count(), leaks,
          a1.exceptAll(adm2).count() + adm2.exceptAll(a1).count())
      }
      println(j("stage" -> "neardup_admission", "seconds" -> tNd,
        "batch" -> ndBatch, "admitted" -> ndAdmitted,
        "exact_leaks" -> ndExactLeaks, "repartition_diff" -> ndRepartDiff))
      check(ndAdmitted <= ndBatch && ndAdmitted > 0,
        s"near-dup admission out of range ($ndAdmitted of $ndBatch)")
      check(ndExactLeaks == 0,
        s"exact copies of indexed docs leaked through ($ndExactLeaks)")
      check(ndRepartDiff == 0,
        s"admitted set must be partitioning-invariant ($ndRepartDiff rows differ)")

      // ---- NEAR-dup admission under a mass-duplicate batch: the same
      // admission with 10^5 exact copies of one viral page spliced into the
      // batch. Identical signatures collapse to one representative BEFORE
      // the band explosion (map-side min under a groupBy), so the viral
      // pile adds one row to the banding/clustering work instead of 10^10
      // within-batch candidate pairs — the stage must land in the same time
      // band as the uniform batch above, and admit exactly one viral copy
      // (the min id) on top of the uniform winners.
      val ((ndvAdmitted, ndvViralKept), tNdv) = timed {
        val idxDocs = docs.where(col("doc_id") % 2 === 0)
        val bt = docs.where(col("doc_id") % 2 =!= 0)
        val sigIdx = graft.operators.IncrementalDedup
          .buildSigIndex(idxDocs, col("doc_id"), col("text")).localCheckpoint()
        val viral = spark.range(100000).select(
          (col("id") + 5_000_000_000L).as("doc_id"),
          lit("viral").as("source"), lit("xx").as("lang"),
          lit("breaking wire story copied verbatim across one hundred " +
            "thousand mirror pages in a single crawl snapshot tonight").as("text"))
        val batch = bt.select(col("doc_id"), col("source"), col("lang"), col("text"))
          .unionByName(viral)
        val adm = graft.operators.IncrementalDedup
          .admitNearDup(batch, sigIdx, "doc_id", "text").localCheckpoint()
        (adm.count(), adm.where(col("id") >= 5_000_000_000L).count())
      }
      println(j("stage" -> "neardup_admission_viral", "seconds" -> tNdv,
        "admitted" -> ndvAdmitted, "viral_kept" -> ndvViralKept,
        "uniform_seconds" -> tNd))
      check(ndvViralKept == 1L,
        s"exactly one of 10^5 viral copies must be admitted ($ndvViralKept)")
      check(ndvAdmitted == ndAdmitted + 1,
        s"viral pile must not disturb the uniform winners ($ndvAdmitted vs ${ndAdmitted + 1})")
      check(tNdv <= 10 * math.max(tNd, 1.0),
        f"mass-duplicate batch must stay in the uniform time band ($tNdv%.1f s vs $tNd%.1f s)")

      // ---- NEAR-dup admission against a DEGENERATE index: 10^5 template
      // variants with DISTINCT signatures (so the identical-sig collapse
      // cannot help) whose postings pile onto a handful of band buckets —
      // short boilerplate where most minhash rows take their min from the
      // shared shingles. Uncapped, the cross band join would be
      // |hot batch bucket| x |hot index bucket| ~ 10^8-10^9 rows; the
      // hot-band cap drops overloaded index buckets so the join stays
      // bounded, while exact copies of indexed entries are STILL all
      // rejected via the full-signature equi-join (cap-immune theorem).
      val ((dgAdmitted, dgLeaks), tDg) = timed {
        // 8 of 11 shingles are the shared template frame -> a minhash row
        // takes its min from the frame with p ~ 0.73, a 4-row band is
        // all-frame with p ~ 0.28, and every all-frame band value is THE
        // SAME across all 10^5 variants: ~28k-posting index buckets. The
        // 3000 exact copies carry the same frame, so ~840 of their postings
        // land in each hot bucket — uncapped, the cross join is
        // 840 x 28000 x 8 bands ~ 2x10^8 rows for ONE degenerate slice.
        def tmpl(i: org.apache.spark.sql.Column) =
          concat(lit("stock ticker update entry number "), i.cast("string"),
            lit(" closing value steady end of report line"))
        val idxDocs = spark.range(100000).select(
          (col("id") + 6_000_000_000L).as("doc_id"), tmpl(col("id")).as("text"))
        val sigIdx = graft.operators.IncrementalDedup
          .buildSigIndex(idxDocs, col("doc_id"), col("text")).localCheckpoint()
        // 3000 exact copies of indexed entries (must ALL reject, cap or no
        // cap) + 50 genuinely novel docs (no shared shingles -> admitted)
        val batch = spark.range(3000).select(
            (col("id") + 7_000_000_000L).as("doc_id"), tmpl(col("id")).as("text"))
          .unionByName(spark.range(50).select(
            (col("id") + 7_100_000_000L).as("doc_id"),
            concat(lit("quiet essay "), col("id").cast("string"),
              lit(" about the "), col("id").cast("string"),
              lit(" gardens "), col("id").cast("string"),
              lit(" and their "), col("id").cast("string"),
              lit(" winters tale")).as("text")))
        val adm = graft.operators.IncrementalDedup
          .admitNearDup(batch, sigIdx, "doc_id", "text",
            maxBandPostings = 1000L).localCheckpoint()
        val idxHashes = idxDocs.select(md5(col("text")).as("h")).distinct()
        (adm.count(),
          adm.select(md5(col("text")).as("h")).join(idxHashes, Seq("h")).count())
      }
      println(j("stage" -> "neardup_admission_degenerate", "seconds" -> tDg,
        "admitted" -> dgAdmitted, "exact_leaks" -> dgLeaks,
        "uniform_seconds" -> tNd))
      check(dgLeaks == 0L,
        s"exact copies must reject through the capped banding ($dgLeaks leaked)")
      check(dgAdmitted == 50L,
        s"the 50 novel docs must be admitted ($dgAdmitted)")
      // the degenerate stage's cost is FIXED (10^5-sig index) while the
      // uniform stage scales with the factor — floor the band at 5 s so a
      // small-factor validation run doesn't compare a constant against an
      // arbitrarily small baseline
      check(tDg <= 10 * math.max(tNd, 5.0),
        f"degenerate batch must complete in the uniform time band ($tDg%.1f s vs $tNd%.1f s)")

      // ---- degenerate WITHIN-BATCH step: the same 10^5 templated
      // distinct-signature variants arrive in ONE batch against an EMPTY
      // index, so the load lands entirely on the survivor band self-join —
      // the hot all-frame buckets hold ~28k DISTINCT-sig postings each
      // (identical sigs pre-collapse, so they can't be the quadratic
      // driver), and uncapped the self-join is ~(28k)^2 x 8 bands ~ 10^9
      // rows. The batch-side census must keep it in the uniform time band.
      // Cap-immunity theorem (within-batch flavor): exact text copies share
      // a signature and are collapsed to one representative BEFORE the
      // self-join, so no two admitted rows may carry identical text no
      // matter what the cap drops.
      val ((wbAdmitted, wbDupTexts, wbNovel), tWb) = timed {
        def tmpl2(i: org.apache.spark.sql.Column) =
          concat(lit("stock ticker update entry number "), i.cast("string"),
            lit(" closing value steady end of report line"))
        val batch = spark.range(100000).select(
            (col("id") + 8_000_000_000L).as("doc_id"), tmpl2(col("id")).as("text"))
          // 3000 exact copies of variant 0: one admitted representative total
          .unionByName(spark.range(3000).select(
            (col("id") + 8_200_000_000L).as("doc_id"), tmpl2(lit(0)).as("text")))
          .unionByName(spark.range(50).select(
            (col("id") + 8_300_000_000L).as("doc_id"),
            concat(lit("quiet essay "), col("id").cast("string"),
              lit(" about the "), col("id").cast("string"),
              lit(" gardens "), col("id").cast("string"),
              lit(" and their "), col("id").cast("string"),
              lit(" winters tale")).as("text")))
        val emptyIdx = batch.select(col("doc_id").as("id"),
          graft.expressions.GraftFunctions.minhashSig(col("text"), 3, 32).as("sig"))
          .limit(0)
        val adm = graft.operators.IncrementalDedup
          .admitNearDup(batch, emptyIdx, "doc_id", "text",
            maxBandPostings = 1000L).localCheckpoint()
        val dupTexts = adm.groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
          .where(col("n") > 1).count()
        val novel = adm.where(col("doc_id") >= 8_300_000_000L).count()
        (adm.count(), dupTexts, novel)
      }
      println(j("stage" -> "neardup_batch_degenerate", "seconds" -> tWb,
        "admitted" -> wbAdmitted, "dup_texts" -> wbDupTexts,
        "novel_admitted" -> wbNovel, "uniform_seconds" -> tNd))
      check(wbDupTexts == 0L,
        s"within-batch exact copies must collapse to one rep ($wbDupTexts texts duplicated)")
      check(wbNovel == 50L, s"the 50 novel docs must be admitted ($wbNovel)")
      check(wbAdmitted <= 100051L,
        s"admitted exceeds distinct variants + novels ($wbAdmitted)")
      check(tWb <= 10 * math.max(tNd, 5.0),
        f"degenerate within-batch step must complete in the uniform time band ($tWb%.1f s vs $tNd%.1f s)")

      // ---- crawl planning at factor scale: priorities from a 2x-corpus
      // fetch history (one partial-agg pass), and budget shares that sum
      // EXACTLY to the budget under distributed partial aggregation of the
      // decimal products
      val ((cpUrls, cpZero, cpShareSum, cpDomains), tCp) = timed {
        val hist = docs.select(col("doc_id"), col("text"),
            explode(sequence(lit(0), lit(1))).as("k"))
          .select(concat(lit("u"), col("doc_id").cast("string")).as("url"),
            (col("doc_id") * 10 + col("k")).cast("bigint").as("ts"),
            md5(concat(col("text"),
              (col("k") * pmod(col("doc_id"), lit(2))).cast("string"))).as("hash"))
        val pr = graft.operators.WebOps
          .recrawlPriority(hist, col("url"), col("ts"), col("hash"),
            asOfTs = 10_000_000_000L).localCheckpoint()
        val alloc = graft.operators.WebOps.allocateBudget(
          docs, col("source"), length(col("text")), totalBudget = 1000000L)
        (pr.count(), pr.where(col("priority") === 0).count(),
          alloc.agg(sum(col("share"))).collect()(0).getLong(0),
          alloc.count())
      }
      println(j("stage" -> "crawl_planning", "seconds" -> tCp,
        "urls" -> cpUrls, "unchanged" -> cpZero,
        "share_sum" -> cpShareSum, "domains" -> cpDomains))
      check(cpUrls == nDocs, s"one priority row per URL ($cpUrls of $nDocs)")
      check(cpZero * 2 == nDocs,
        s"exactly the even doc_ids never changed ($cpZero of ${nDocs / 2})")
      check(cpShareSum == 1000000L,
        s"largest-remainder shares must sum exactly to the budget ($cpShareSum)")

      // ---- exact mix assembly at factor scale: with binding budgets the
      // admitted mass per group must land in [budget, budget + one doc) —
      // the maximal-prefix guarantee — and membership must be invariant to
      // partitioning (the bucketed decomposition cannot depend on layout)
      val ((mixGroups, mixViol, mixDiff), tMix) = timed {
        val weighted = docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("bigint").as("w"))
        val totals = weighted.groupBy(col("lang"))
          .agg(sum(col("w")).as("tot"), max(col("w")).as("maxw")).collect()
        val budgets = totals.map(r => r.getString(0) -> r.getLong(1) / 3).toSeq
        val maxw = totals.map(_.getLong(2)).max
        val got = graft.operators.Sampling.exactTokenBudgets(
          weighted, col("lang"), col("doc_id"), col("w"), budgets)
          .localCheckpoint()
        val bm = budgets.toMap
        val viol = got.groupBy(col("lang")).agg(sum(col("w")).as("m"))
          .collect().count { r =>
            val b = bm(r.getString(0)); val m = r.getLong(1)
            m < b || m >= b + maxw
          }
        val again = graft.operators.Sampling.exactTokenBudgets(
          weighted.repartition(97), col("lang"), col("doc_id"), col("w"), budgets)
        val diff = got.exceptAll(again).count() + again.exceptAll(got).count()
        (totals.length, viol, diff)
      }
      println(j("stage" -> "exact_mix", "seconds" -> tMix,
        "groups" -> mixGroups, "violations" -> mixViol,
        "repartition_diff" -> mixDiff))
      check(mixViol == 0,
        s"admitted mass must land within one doc above each binding budget ($mixViol groups out)")
      check(mixDiff == 0, s"exact mix must be repartition-invariant (diff $mixDiff)")

      // ---- composed daemon throughput: N snapshots through runStream —
      // the full curate → admit → delta-index chain as ONE number (docs/s)
      // plus the dominant stage, instead of per-operator bench rows that
      // can't see stage composition. Fixed-size like the degenerate stages
      // (the throughput RECORD wants a stable denominator, not a scale
      // proof — the per-operator stages above own scaling), pages drawn
      // from the real stress corpus so dedup/quality do realistic work.
      val ((tpDocs, tpBatches, stageSecs), tTp) = timed {
        def warcResponse(uri: String, body: String): Array[Byte] = {
          val iso = java.nio.charset.StandardCharsets.ISO_8859_1
          val payload = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            body).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
            s"WARC-Date: 2024-01-02T03:04:05Z\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n").getBytes(iso) ++
            payload ++ "\r\n\r\n".getBytes(iso)
        }
        val perSnap = 1000
        val nSnaps = 3
        // deterministic slice: page i of snapshot s is stress doc
        // (s * perSnap + i) — snapshots are disjoint except the replica
        // near-dups the admission indexes must reject across snapshots
        val pages = docs.orderBy(col("doc_id")).limit(perSnap * nSnaps)
          .select(col("doc_id"), col("text")).collect()
        val warcDir = java.nio.file.Files.createDirectory(
          java.nio.file.Paths.get(s"$workDir/tp_warc"))
        val byStage = mutable.LinkedHashMap.empty[String, Double]
        var batches = 0L
        val q = graft.pipeline.CrawlPipeline.runStream(spark,
          warcDir.toString, s"$workDir/tp_work", s"$workDir/tp_ix/index",
          qualityThresholds = QualityRules.Thresholds(minStopHits = 0L),
          onBatch = (_, cs) => {
            batches += 1
            cs.foreach(c => byStage(c.stage) =
              byStage.getOrElse(c.stage, 0.0) + c.seconds)
          })
        try {
          for (s <- 0 until nSnaps) {
            val bytes = pages.slice(s * perSnap, (s + 1) * perSnap)
              .map(r => warcResponse(
                s"http://d${r.getLong(0)}.example/page", r.getString(1)))
              .reduce(_ ++ _)
            java.nio.file.Files.write(warcDir.resolve(f"snap$s%02d.warc"), bytes)
            q.processAllAvailable()
          }
        } finally q.stop()
        (perSnap.toLong * nSnaps, batches, byStage.toSeq)
      }
      val tpDominant = stageSecs.sortBy(-_._2).headOption.getOrElse(("none", 0.0))
      println(j(Seq("stage" -> "daemon_throughput", "seconds" -> tTp,
        "docs_in" -> tpDocs, "batches" -> tpBatches,
        "docs_per_sec" -> tpDocs / math.max(tTp, 1e-9),
        "dominant_stage" -> tpDominant._1,
        "dominant_seconds" -> tpDominant._2) ++
        stageSecs.map { case (s, v) => s"t_$s" -> v }: _*))
      check(tpBatches >= 3,
        s"daemon throughput stage must process all 3 snapshots ($tpBatches batches)")

      // ---- training-release loader read (r15 verdict #4's record): shard
      // the factor-100 corpus as a sealed mixture release, then stream it
      // back through the sequential loader with the read-ahead OFF vs ON.
      // The release is skinny on purpose (id + lang + position): the
      // read-ahead hides the per-part-boundary cluster round trip, and
      // that stall is what the stage measures — payload width would only
      // drown it in deserialization time.
      val ((loaderRows, tPlainRead, tAheadRead), tLoader) = timed {
        val langs = Seq("de", "en", "es", "fr", "zh")
        val ordered = graft.operators.TrainingOrder.interleave(
          docs.select(col("doc_id"), col("lang")), col("lang"),
          col("doc_id"), langs)
        val relDir = s"$workDir/release_shards"
        graft.operators.TrainingOrder.writeMixtureShards(
          ordered, col("global_pos"), relDir, 16)
        graft.sinks.DatasetManifest.write(spark, relDir)
        def drain(prefetch: Boolean): (Long, Double) = timed {
          graft.operators.TrainingOrder.shardRangeIterator(
              spark, relDir, 0, 15, verify = "quick", prefetch = prefetch)
            .foldLeft(0L)((a, _) => a + 1)
        }
        val (nPlain, tP) = drain(prefetch = false)
        val (nAhead, tA) = drain(prefetch = true)
        check(nPlain == nAhead && nPlain > 0,
          s"loader read-ahead must not change the row count ($nPlain vs $nAhead)")
        (nPlain, tP, tA)
      }
      println(j("stage" -> "loader_read", "seconds" -> tLoader,
        "rows" -> loaderRows, "plain_seconds" -> tPlainRead,
        "prefetch_seconds" -> tAheadRead,
        "plain_rows_per_sec" -> loaderRows / math.max(tPlainRead, 1e-9),
        "prefetch_rows_per_sec" -> loaderRows / math.max(tAheadRead, 1e-9)))

      println(j("stage" -> "summary", "factor" -> factor, "docs" -> nDocs,
        "vectors" -> nVecs, "ok" -> failures.isEmpty))
      failures.foreach(f => System.err.println(s"[stress] FAILED: $f"))
    }
    failures.isEmpty
  }
}
