package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted lexical (BM25) index tier ([[LexIndex]]): every lifecycle
  * arc must produce scores BIT-IDENTICAL to the full-scan
  * [[TextSearch.bm25TopK]] over the live corpus — the same exactness
  * contract the ANN tiers pin via row-identity, here provable through
  * every mutation because BM25's statistics are exactly correctable.
  */
class LexIndexSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("spark", "merge", "window")

  private def docs = graft.core.Tables.documents(spark, sf0001)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/lex"

  /** Exact row equality including the doubles — the whole point. */
  private def assertSame(fromIndex: DataFrame, fromScan: DataFrame,
      hint: String): Unit = {
    val a = fromIndex.orderBy($"score".desc, $"id").collect().toSeq
    val b = fromScan.orderBy($"score".desc, $"id").collect().toSeq
    assert(fromIndex.columns.toSeq == fromScan.columns.toSeq, hint)
    assert(a == b, s"$hint\nindex: ${a.take(5)}\nscan:  ${b.take(5)}")
  }

  test("build + query ≡ full-scan bm25TopK, bit-identical doubles") {
    val dir = tmp("lex_build")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 16)
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 20)
    val fromScan = TextSearch.bm25TopK(docs, $"doc_id", $"text", terms, k = 20)
    assertSame(fromIndex, fromScan, "fresh build diverged from the scan")
    assert(!IndexFs.exists(IndexLease.leasePath(dir)), "lease leaked")
  }

  test("query reads posting slices, not the corpus: term predicates prune to the term's bucket partition") {
    val dir = tmp("lex_prune")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 16)
    // the slice read for one term must touch ONLY that term's bucket dir —
    // partition pruning at the scan is the tier's whole scale story
    val b = spark.range(1)
      .select(pmod(hash(lit("spark")), lit(16)).as("b")).head().getInt(0)
    val slice = spark.read.parquet(s"$dir/postings")
      .where($"bucket" === b && $"term" === "spark")
    val p = slice.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("postings")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [") &&
      scanLine.contains("bucket"), p.take(1500))
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
    // the slice is df-scale, far below corpus scale
    val df0 = slice.count()
    assert(df0 > 0 && df0 < docs.count(), s"df=$df0")
  }

  test("incremental append under frozen layout ≡ a build over the union") {
    val dirHalf = tmp("lex_append")
    LexIndex.build(docs.where($"doc_id" % 2 === 0), "doc_id", "text",
      dirHalf, nBuckets = 8)
    val n = LexIndex.append(spark, dirHalf, docs.where($"doc_id" % 2 =!= 0),
      "doc_id", "text")
    assert(n > 0)
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, dirHalf, terms, k = 15)
    val fromScan = TextSearch.bm25TopK(docs, $"doc_id", $"text", terms, k = 15)
    assertSame(fromIndex, fromScan, "append diverged from a full build")
  }

  test("takedown is EXACT: a tombstoned corpus scores as if the docs never existed, and deleted ids never surface") {
    val dir = tmp("lex_del")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 8)
    val delPred = $"doc_id" % 5 === 0 // 20% takedown
    val nDel = LexIndex.delete(spark, dir,
      docs.where(delPred).select($"doc_id"), "doc_id")
    assert(nDel > 0)
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 20)
    // the oracle: a full scan over the REMAINING corpus — N, Σdl and every
    // df shift, and the index must reproduce all of it exactly
    val fromScan = TextSearch.bm25TopK(docs.where(!delPred), $"doc_id",
      $"text", terms, k = 20)
    assertSame(fromIndex, fromScan, "tombstone corrections are not exact")
    assert(fromIndex.where($"id" % 5 === 0).count() == 0,
      "a deleted id surfaced")

    // re-adding a tombstoned id is a loud error until a compact resolves
    val e = intercept[IllegalArgumentException] {
      LexIndex.append(spark, dir, docs.where($"doc_id" === 5),
        "doc_id", "text")
    }
    assert(e.getMessage.contains("tombstone entries"), e.getMessage)

    // compact: physical resolve, row-identical answers, table cleared —
    // committed as a new GENERATION, so post-compact state resolves
    val live = LexIndex.compact(spark, dir)
    val root = IncrementalDedup.readRoot(dir)
    assert(live == docs.where(!delPred).count())
    assert(!IndexFs.exists(s"$root/tombstones"), "tombstones not cleared")
    val postCompact = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 20)
    assertSame(postCompact, fromScan, "compact changed answers")
    // stats ledger folded to one row and one file
    assert(spark.read.parquet(s"$root/stats").count() == 1)
    assert(spark.read.parquet(s"$root/stats").inputFiles.length == 1)
  }

  test("tombstone pressure fires maintain's compact; below pressure and after resolve it is a no-op") {
    val dir = tmp("lex_maint")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 8)
    assert(!LexIndex.maintain(spark, dir), "maintain fired with no tombstones")
    LexIndex.delete(spark, dir,
      docs.where($"doc_id" % 50 === 0).select($"doc_id"), "doc_id")
    assert(!LexIndex.maintain(spark, dir, maxTombstoneFraction = 0.5),
      "maintain fired below the pressure threshold")
    assert(IndexFs.exists(s"$dir/tombstones"))
    LexIndex.delete(spark, dir,
      docs.where($"doc_id" % 3 === 0).select($"doc_id"), "doc_id")
    assert(LexIndex.maintain(spark, dir, maxTombstoneFraction = 0.25),
      "maintain did not fire past the pressure threshold")
    assert(!IndexFs.exists(
      s"${IncrementalDedup.readRoot(dir)}/tombstones"))
    assert(!LexIndex.maintain(spark, dir, maxTombstoneFraction = 0.25),
      "maintain is not a no-op after the resolve")
  }

  test("zero-score fill: when fewer than k docs match, the scan's total order is reproduced exactly") {
    val dir = tmp("lex_fill")
    // a tiny corpus slice where the term is rare enough that matches < k
    val few = docs.where($"doc_id" < 40)
    LexIndex.build(few, "doc_id", "text", dir, nBuckets = 4)
    val rare = Seq("merge")
    val k = 38 // ~35 of the 40 docs contain the term — k above that
    // forces zero-score fill slots, below 40 keeps the limit binding
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, dir, rare, k)
    val fromScan = TextSearch.bm25TopK(few, $"doc_id", $"text", rare, k)
    assertSame(fromIndex, fromScan, "zero-fill order diverged")
    assert(fromIndex.count() == k)
    assert(fromIndex.where($"score" === 0.0).count() > 0,
      "fixture did not exercise the fill path (every doc matched)")
  }

  test("filtered retrieval: corpus-calibrated scores, only allowed ids surface, index ≡ scan") {
    val dir = tmp("lex_filter")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 8)
    val allowed = docs.where($"doc_id" % 3 === 0).select($"doc_id")
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 15,
      allowed = Some(allowed))
    val fromScan = TextSearch.bm25TopK(docs, $"doc_id", $"text", terms,
      k = 15, allowed = Some(allowed))
    assertSame(fromIndex, fromScan, "filtered retrieval diverged")
    assert(fromIndex.where($"id" % 3 =!= 0).count() == 0,
      "a disallowed id surfaced")
    // and the filter did NOT recalibrate: scores must equal the
    // unfiltered scores for the same ids (corpus-wide df/N/Σdl)
    val unfiltered = TextSearch.bm25TopK(docs, $"doc_id", $"text", terms,
      k = 2000)
    val joined = fromIndex.select($"id", $"score".as("s_f"))
      .join(unfiltered.select($"id", $"score".as("s_u")), Seq("id"))
    assert(joined.where($"s_f" =!= $"s_u").count() == 0,
      "filtered scores were recalibrated — they must stay corpus-wide")
  }

  test("CLI: lex-build / lex-append / lex-search / lex-maintain / index-status, and hybrid-search --lex --filter threads both pools") {
    val base = java.nio.file.Files.createTempDirectory("lex_cli").toString
    val lexIx = s"$base/lex"
    val annIx = s"$base/ann"
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    Similarity.ivfBuild(emb, "vec_id", "embedding", 4, annIx)
    graft.cli.GraftCli.run(spark, List("lex-build", sf0001, lexIx, "8"))
    assert(IndexFs.exists(s"$lexIx/meta"))

    // --lex + --filter: the fused pool must carry ONLY allowed ids, and
    // the index-served lexical pool must fuse identically to the scan-
    // served one (the bit-identity contract, end-to-end through the CLI)
    val allowedPath = s"$base/allowed"
    docs.where($"doc_id" % 3 === 0).select($"doc_id")
      .write.parquet(allowedPath)
    graft.cli.GraftCli.run(spark, List("hybrid-search", sf0001, annIx,
      s"$base/out_ix", "0", "--lex", lexIx, "--filter", allowedPath,
      "spark", "merge"))
    graft.cli.GraftCli.run(spark, List("hybrid-search", sf0001, annIx,
      s"$base/out_scan", "0", "--filter", allowedPath, "spark", "merge"))
    val outIx = spark.read.parquet(s"$base/out_ix")
    val outScan = spark.read.parquet(s"$base/out_scan")
    assert(outIx.count() == 20)
    assert(outIx.where($"id" % 3 =!= 0).count() == 0,
      "a disallowed id surfaced in the fused top-k")
    assert(outIx.where($"rank_0".isNotNull).count() > 0)
    assert(outIx.where($"rank_1".isNotNull).count() > 0)
    assert(outIx.exceptAll(outScan).unionAll(outScan.exceptAll(outIx))
      .count() == 0, "index-served lexical pool fused differently from scan")

    // append + maintain + status smoke through the same surfaces
    docs.limit(0).write.parquet(s"$base/empty")
    graft.cli.GraftCli.run(spark,
      List("lex-append", s"$base/empty", lexIx, "doc_id", "text"))
    graft.cli.GraftCli.run(spark, List("lex-maintain", lexIx))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.cli.GraftCli.run(spark, List("index-status", lexIx))
      graft.cli.GraftCli.run(spark, List("lex-search", lexIx, "5",
        "spark", "merge"))
    }
    val text = out.toString("UTF-8")
    assert(text.contains("layout: lexical"), text)
    assert(text.contains("lex-search"), text)
    assert(text.contains("5 results"), text)
  }

  test("delta appends are replay-idempotent: a re-run batch overwrites its own delta, never double-counts") {
    val dir = tmp("lex_replay")
    LexIndex.build(docs.where($"doc_id" % 2 === 0), "doc_id", "text", dir,
      nBuckets = 8)
    val odd = docs.where($"doc_id" % 2 =!= 0)
    LexIndex.append(spark, dir, odd, "doc_id", "text", batchId = Some(7L))
    val before = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 15)
      .collect().toSeq
    val nDocs = spark.read.parquet(s"$dir/doclens").count()
    // the replayed micro-batch lands on the SAME batch id — statistics
    // and postings must come out identical, not doubled
    LexIndex.append(spark, dir, odd, "doc_id", "text", batchId = Some(7L))
    assert(spark.read.parquet(s"$dir/doclens").count() == nDocs,
      "replay double-counted doclens")
    val statSum = spark.read.parquet(s"$dir/stats")
      .agg(sum($"n")).head().getLong(0)
    assert(statSum == nDocs, s"replay double-counted the stats ledger: $statSum")
    val after = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 15)
      .collect().toSeq
    assert(after == before, "replay changed query answers")
    // and an UNPINNED append takes the next ascending id — a fresh delta
    LexIndex.append(spark, dir,
      docs.limit(0), "doc_id", "text") // empty: no delta dir written
    val batches = IndexFs.subdirNames(s"$dir/postings")
      .filter(_.startsWith("batch=")).toSet
    assert(batches == Set("batch=-1", "batch=7"), batches.toString)
  }

  test("re-add defer arc: tombstoned ids split out of an ingest batch, compact resolves, then the re-add lands cleanly") {
    val dir = tmp("lex_readd")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 8)
    val slice = docs.where($"doc_id" % 7 === 0)
    LexIndex.delete(spark, dir, slice.select($"doc_id"), "doc_id")
    // a plain append of tombstoned ids fails loudly (unlike the fp SET,
    // lex rows are per-doc data — clearing at append time double-counts)
    intercept[IllegalArgumentException] {
      LexIndex.append(spark, dir, slice, "doc_id", "text")
    }
    // the continuous-ingest split: tombstoned ids defer, the rest append
    val batch = docs.where($"doc_id" % 7 === 0 || $"doc_id" === 1)
    val (ok, deferred) = LexIndex.splitTombstoned(spark, dir, batch, "doc_id")
    assert(deferred.count() == slice.count(), "tombstoned ids not deferred")
    assert(ok.count() == 1, "non-tombstoned id not appendable")
    // compact resolves physically; the deferred docs then re-add cleanly
    // and the corpus scores EXACTLY as if never deleted
    LexIndex.compact(spark, dir)
    LexIndex.append(spark, dir, slice, "doc_id", "text", batchId = Some(9L))
    assertSame(
      LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 15),
      TextSearch.bm25TopK(docs, $"doc_id", $"text", terms, k = 15),
      "re-added corpus diverged after the defer arc")
  }

  test("phraseCountFromIndex: overlaps count, order matters, takedown removes docs, and it matches the scan operator") {
    val dir = tmp("lex_phrase")
    val corpus = Seq(
      (1L, "a b a b a"), // "a b" at positions 0 and 2 -> 2 matches
      (2L, "b a"),       // reversed -> no match ("order matters")
      (3L, "a a a"),     // "a a" overlapping at 0 and 1 -> 2 matches
      (4L, "c c c a b")  // "a b" once
    ).toDF("doc_id", "text")
    LexIndex.build(corpus, "doc_id", "text", dir, nBuckets = 4)
    val ab = LexIndex.phraseCountFromIndex(spark, dir, Seq("a", "b"))
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(ab == Seq((1L, 2L), (4L, 1L)), ab.toString)
    val aa = LexIndex.phraseCountFromIndex(spark, dir, Seq("a", "a"))
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(aa == Seq((3L, 2L)), s"overlapping matches must count: $aa")
    // on an already-lowercase corpus the scan operator (which folds case)
    // and the index tier must agree row-for-row
    val scan = TextSearch.phraseCount(corpus, $"doc_id", $"text", Seq("a", "b"))
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(scan == ab, s"index $ab vs scan $scan")
    // a real-corpus 3-term phrase agrees with the scan operator too
    val dir2 = tmp("lex_phrase_sf")
    val few = docs.where($"doc_id" < 300)
    LexIndex.build(few, "doc_id", "text", dir2, nBuckets = 8)
    val p3 = Seq("slow", "hash", "batch")
    val ix3 = LexIndex.phraseCountFromIndex(spark, dir2, p3)
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    val sc3 = TextSearch.phraseCount(few, $"doc_id", $"text", p3)
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(ix3 == sc3, s"index $ix3 vs scan $sc3")
    // takedown: deleted docs are exactly absent from phrase results
    LexIndex.delete(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    val abDel = LexIndex.phraseCountFromIndex(spark, dir, Seq("a", "b"))
      .orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(abDel == Seq((4L, 1L)), abDel.toString)
  }

  test("compact with preserveBatchIds folds history but carries the current batch verbatim — the daemon's mid-stream replay guard") {
    val dir = tmp("lex_preserve")
    LexIndex.build(docs.where($"doc_id" % 3 === 0), "doc_id", "text", dir,
      nBuckets = 4)
    LexIndex.append(spark, dir, docs.where($"doc_id" % 3 === 1),
      "doc_id", "text", batchId = Some(0L))
    LexIndex.append(spark, dir, docs.where($"doc_id" % 3 === 2),
      "doc_id", "text", batchId = Some(1L))
    // takedown inside the HISTORY (not the preserved batch)
    LexIndex.delete(spark, dir,
      docs.where($"doc_id" % 9 === 0).select($"doc_id"), "doc_id")
    LexIndex.compact(spark, dir, preserveBatchIds = Set(1L))
    // history folded to batch=-1, the in-flight batch carried verbatim
    // (into the NEW generation the compact committed)
    val batches = IndexFs.subdirNames(
        s"${IncrementalDedup.readRoot(dir)}/postings")
      .filter(_.startsWith("batch=")).toSet
    assert(batches == Set("batch=-1", "batch=1"), batches.toString)
    // answers stay EXACT: the folded part resolved its tombstones, the
    // preserved part is untouched, and the corpus scores as the
    // remaining docs
    val remaining = docs.where($"doc_id" % 9 =!= 0)
    assertSame(
      LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 15),
      TextSearch.bm25TopK(remaining, $"doc_id", $"text", terms, k = 15),
      "preserve-compact broke exactness")
    // the preserved delta stays REPLAYABLE: re-running batch 1 overwrites
    // its own files and changes nothing
    val before = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 15)
      .collect().toSeq
    val root = IncrementalDedup.readRoot(dir)
    val nDocs = spark.read.parquet(s"$root/doclens").count()
    LexIndex.append(spark, dir, docs.where($"doc_id" % 3 === 2),
      "doc_id", "text", batchId = Some(1L))
    assert(spark.read.parquet(s"$root/doclens").count() == nDocs,
      "replay after a preserving compact double-counted")
    assert(LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 15)
      .collect().toSeq == before, "replay after a preserving compact " +
      "changed scores")
  }

  test("batched retrieval: many queries from one slice-union pass, each bit-identical to its single-query call") {
    val dir = tmp("lex_batch")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 8)
    val qs = Seq(
      "q_a" -> Seq("spark", "merge"),
      "q_b" -> Seq("window"),
      "q_c" -> Seq("merge", "window", "nosuchterm_zzz"))
    val batch = LexIndex.bm25TopKFromIndexMany(spark, dir, qs, k = 12)
      .localCheckpoint()
    assert(batch.columns.toSeq ==
      Seq("query_id", "id", "dl", "score", "rank"))
    for ((qid, terms) <- qs) {
      // the single-query path's MATCHED rows (score > 0; the batch API
      // omits the zero-fill by contract) must agree bit-for-bit
      val single = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 12)
        .where($"score" > 0.0)
        .select($"id", $"dl", $"score")
        .orderBy($"score".desc, $"id")
        .collect().toSeq
      val fromBatch = batch.where($"query_id" === qid)
        .select($"id", $"dl", $"score")
        .orderBy($"score".desc, $"id")
        .collect().toSeq
      assert(fromBatch == single, s"$qid diverged from its single call")
      // ranks are dense 1..n within the query
      val ranks = batch.where($"query_id" === qid)
        .select($"rank").as[Long].collect().sorted.toSeq
      assert(ranks == (1L to ranks.size))
    }
    // tombstones correct the batch path exactly too
    LexIndex.delete(spark, dir,
      docs.where($"doc_id" % 4 === 0).select($"doc_id"), "doc_id")
    val batchDel = LexIndex.bm25TopKFromIndexMany(spark, dir,
      Seq("q_a" -> Seq("spark", "merge")), k = 12)
    val scanDel = TextSearch.bm25TopK(docs.where($"doc_id" % 4 =!= 0),
        $"doc_id", $"text", Seq("spark", "merge"), k = 12)
      .where($"score" > 0.0).select($"id", $"dl", $"score")
      .orderBy($"score".desc, $"id").collect().toSeq
    assert(batchDel.select($"id", $"dl", $"score")
      .orderBy($"score".desc, $"id").collect().toSeq == scanDel,
      "batched tombstone corrections diverged from the remaining-corpus scan")
  }

  test("lifecycle works through file:-scheme URIs (cluster-store faithful)") {
    val dir = "file://" + tmp("lex_uri")
    LexIndex.build(docs.where($"doc_id" < 100), "doc_id", "text", dir,
      nBuckets = 4)
    LexIndex.append(spark, dir,
      docs.where($"doc_id" >= 100 && $"doc_id" < 200), "doc_id", "text")
    LexIndex.delete(spark, dir,
      docs.where($"doc_id" < 10).select($"doc_id"), "doc_id")
    LexIndex.compact(spark, dir)
    val sub = docs.where($"doc_id" >= 10 && $"doc_id" < 200)
    assertSame(
      LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 10),
      TextSearch.bm25TopK(sub, $"doc_id", $"text", terms, k = 10),
      "URI lifecycle diverged")
  }

  test("folded analyzer: NFC + lowercase applied identically at build and query; index ≡ the folded scan; raw stays case-sensitive") {
    val corpus = Seq(
      (1L, "Spark SPARK spark engine"),
      (2L, "spark window Window"),
      (3L, "MERGE merge café"),          // composed é
      (4L, "café merge other words")    // decomposed e + combining ´
    ).toDF("doc_id", "text")
    val foldedDir = tmp("lex_folded")
    LexIndex.build(corpus, "doc_id", "text", foldedDir, nBuckets = 4,
      analyzer = "folded")
    // mixed-case query terms fold to the same vocabulary; index ≡ the
    // folded SCAN twin bit-for-bit (the per-analyzer exactness contract)
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, foldedDir,
      Seq("SPARK", "Merge"), k = 4)
    val fromScan = TextSearch.bm25TopK(corpus, $"doc_id", $"text",
      Seq("SPARK", "Merge"), k = 4, analyzer = "folded")
    assertSame(fromIndex, fromScan, "folded index diverged from folded scan")
    // doc 1 carries tf=3 for spark under the fold (Spark+SPARK+spark)
    assert(fromIndex.where($"id" === 1L).head().getAs[Long]("tf0") == 3L)
    // NFC: composed and decomposed accents are ONE term
    val cafe = LexIndex.bm25TopKFromIndex(spark, foldedDir,
      Seq("café"), k = 4)
    assert(cafe.where($"tf0" > 0).select($"id").as[Long].collect().toSet
      == Set(3L, 4L), "NFC fold missed the decomposed form")
    // the folded index phrase-matches case-insensitively too: doc 1 folds
    // to "spark spark spark engine", so the folded bigram overlaps TWICE
    val ph = LexIndex.phraseCountFromIndex(spark, foldedDir,
      Seq("Spark", "SPARK"))
    assert(ph.as[(Long, Long)].collect().toSet == Set((1L, 2L)),
      "folded phrase did not fold")
    // a RAW index over the same corpus keeps the case-sensitive quirk
    val rawDir = tmp("lex_rawcase")
    LexIndex.build(corpus, "doc_id", "text", rawDir, nBuckets = 4)
    val raw = LexIndex.bm25TopKFromIndex(spark, rawDir, Seq("SPARK"), k = 4)
    assert(raw.where($"tf0" > 0).select($"id").as[Long].collect().toSet
      == Set(1L), "raw analyzer must stay case-sensitive")
    // analyzer is validated loudly
    val e = intercept[IllegalArgumentException] {
      LexIndex.build(corpus, "doc_id", "text", tmp("lex_bad"),
        nBuckets = 4, analyzer = "stemmed")
    }
    assert(e.getMessage.contains("unknown analyzer"), e.getMessage)
  }

  test("a legacy meta (no analyzer/positions columns) reads as the raw positional layout") {
    val dir = tmp("lex_legacy")
    LexIndex.build(docs.where($"doc_id" < 200), "doc_id", "text", dir,
      nBuckets = 4)
    // simulate a pre-analyzer index: meta carries only nbuckets
    Seq(4).toDF("nbuckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    val fromIndex = LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 10)
    val fromScan = TextSearch.bm25TopK(docs.where($"doc_id" < 200),
      $"doc_id", $"text", terms, k = 10)
    assertSame(fromIndex, fromScan, "legacy meta did not default to raw")
    assert(LexIndex.phraseCountFromIndex(spark, dir,
      Seq("spark")).count() >= 0) // positional by default
  }

  test("tf-only tier (withPositions = false): BM25 rows unchanged; phrase search fails loudly naming the rebuild") {
    val posDir = tmp("lex_pos")
    val tfDir = tmp("lex_tfonly")
    val corpus = docs.where($"doc_id" < 300)
    LexIndex.build(corpus, "doc_id", "text", posDir, nBuckets = 4)
    LexIndex.build(corpus, "doc_id", "text", tfDir, nBuckets = 4,
      withPositions = false)
    // the postings schema really dropped the arrays
    assert(!spark.read.parquet(s"$tfDir/postings").columns
      .contains("positions"))
    assertSame(
      LexIndex.bm25TopKFromIndex(spark, tfDir, terms, k = 15),
      LexIndex.bm25TopKFromIndex(spark, posDir, terms, k = 15),
      "BM25 must not depend on the positional tier")
    // appends inherit the tier from meta
    LexIndex.append(spark, tfDir,
      docs.where($"doc_id" >= 300 && $"doc_id" < 350), "doc_id", "text")
    assert(!spark.read.parquet(s"$tfDir/postings").columns
      .contains("positions"))
    val e = intercept[IllegalArgumentException] {
      LexIndex.phraseCountFromIndex(spark, tfDir, Seq("spark", "merge"))
    }
    assert(e.getMessage.contains("withPositions"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("batched phrase search: many phrases from one slice-union pass, each identical to its single call") {
    val dir = tmp("lex_phrase_batch")
    LexIndex.build(docs, "doc_id", "text", dir, nBuckets = 8)
    val phrases = Seq(
      "p_a" -> Seq("big", "order", "scan"),
      "p_b" -> Seq("table", "scan"),
      "p_c" -> Seq("no_such_term_zzz", "scan"))
    val batched = LexIndex.phraseCountFromIndexMany(spark, dir, phrases)
      .localCheckpoint()
    for ((qid, p) <- phrases) {
      val single = LexIndex.phraseCountFromIndex(spark, dir, p)
      val slice = batched.where($"query_id" === qid).drop("query_id")
      assert(slice.exceptAll(single).unionAll(single.exceptAll(slice))
        .count() == 0, s"batched phrase diverged for $qid")
    }
    assert(batched.where($"query_id" === "p_c").count() == 0,
      "a no-hit phrase must contribute zero rows, not fail")
    val e = intercept[IllegalArgumentException] {
      LexIndex.phraseCountFromIndexMany(spark, dir,
        Seq("x" -> Seq("a"), "x" -> Seq("b")))
    }
    assert(e.getMessage.contains("duplicate query ids"), e.getMessage)
  }

  test("upsert: replaced documents serve EXACTLY (scan-twin bit-identity) through repeat upsert, delete-after-upsert, resurrection, phrase, batch and zero-fill paths, and the compact fold") {
    val dir = tmp("lex_upsert")
    val base = docs.where($"doc_id" < 300).select($"doc_id", $"text")
    LexIndex.build(base, "doc_id", "text", dir, nBuckets = 8)
    def scanOf(corpus: DataFrame, t: Seq[String] = terms, k: Int = 15) =
      TextSearch.bm25TopK(corpus, $"doc_id", $"text", t, k)
    def ixOf(t: Seq[String] = terms, k: Int = 15) =
      LexIndex.bm25TopKFromIndex(spark, dir, t, k)
    // (1) replace ~1/7 of the docs with changed text + add new ids
    val upd1 = base.where($"doc_id" % 7 === 0)
      .select($"doc_id", concat($"text", lit(" zz_upd zz_upd")).as("text"))
    val news = docs.where($"doc_id" >= 300 && $"doc_id" < 320)
      .select($"doc_id", $"text")
    val n1 = LexIndex.upsert(spark, dir, upd1.unionByName(news),
      "doc_id", "text")
    assert(n1 == upd1.count() + news.count())
    val corpus1 = base.join(upd1.select($"doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upd1).unionByName(news).localCheckpoint()
    assertSame(ixOf(), scanOf(corpus1), "upsert diverged from the scan")
    assertSame(ixOf(Seq("zz_upd")), scanOf(corpus1, Seq("zz_upd")),
      "the replacement text is not served")
    // (2) repeat upsert of the same ids: latest version wins
    val upd2 = base.where($"doc_id" % 7 === 0)
      .select($"doc_id", concat($"text", lit(" zz_v2")).as("text"))
    LexIndex.upsert(spark, dir, upd2, "doc_id", "text")
    val corpus2 = base.join(upd2.select($"doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upd2).unionByName(news).localCheckpoint()
    assertSame(ixOf(), scanOf(corpus2), "repeat upsert not latest-wins")
    assert(ixOf(Seq("zz_upd"), 15).where($"score" > 0).count() == 0,
      "a superseded version surfaced")
    // (3) delete an upserted id — the deletion outranks every version
    val victim = base.where($"doc_id" % 7 === 0)
      .select($"doc_id").orderBy($"doc_id").limit(1)
    LexIndex.delete(spark, dir, victim, "doc_id")
    val vid = victim.as[Long].head()
    val corpus3 = corpus2.where($"doc_id" =!= vid).localCheckpoint()
    assertSame(ixOf(), scanOf(corpus3), "delete-after-upsert not exact")
    // (4) resurrection: upsert the deleted id with fresh text
    val back = Seq((vid, "resurrected zz_back text with spark merge"))
      .toDF("doc_id", "text")
    LexIndex.upsert(spark, dir, back, "doc_id", "text")
    val corpus4 = corpus3.unionByName(back).localCheckpoint()
    assertSame(ixOf(), scanOf(corpus4), "resurrection not exact")
    // (5) phrase + batched + zero-fill paths see the live versions only
    assert(LexIndex.phraseCountFromIndex(spark, dir, Seq("zz_upd", "zz_upd"))
      .count() == 0, "phrase matched a superseded version")
    assert(LexIndex.phraseCountFromIndex(spark, dir,
        Seq("resurrected", "zz_back")).as[(Long, Long)].collect().toSeq
      == Seq((vid, 1L)), "phrase missed the live version")
    val many = LexIndex.bm25TopKFromIndexMany(spark, dir,
      Seq("q" -> Seq("zz_v2")), k = 50)
    val wantMany = scanOf(corpus4, Seq("zz_v2"), 50).where($"score" > 0)
      .select($"id", $"dl", $"score").orderBy($"score".desc, $"id")
      .collect().toSeq
    assert(many.select($"id", $"dl", $"score").orderBy($"score".desc, $"id")
      .collect().toSeq == wantMany, "batched path saw stale versions")
    // (6) the compact folds replacements physically; answers unchanged
    val pre = ixOf().collect().toSeq
    LexIndex.compact(spark, dir)
    val root = IncrementalDedup.readRoot(dir)
    assert(!IndexFs.exists(s"$root/tombstones"))
    assert(spark.read.parquet(s"$root/doclens").count() == corpus4.count(),
      "the fold kept superseded versions")
    assert(ixOf().collect().toSeq == pre, "the fold changed answers")
  }

  test("upsert floor candidates: the corpus-scale doclens side never shuffles (broadcast semi-joins), and the set is exact") {
    val dir = tmp("lex_upsert_plan")
    val base = docs.where($"doc_id" < 300).select($"doc_id", $"text")
    LexIndex.build(base, "doc_id", "text", dir, nBuckets = 8)
    // one prior delete so the ledger branch participates too
    LexIndex.delete(spark, dir,
      Seq(3000L).toDF("doc_id"), "doc_id") // id the index never held
    val root = IncrementalDedup.readRoot(dir)
    val batchIds = Seq(0L, 7L, 3000L, 9999L).toDF("id")
    val entries = LexIndex.upsertFloorEntries(spark, root, batchIds, bid = 5L)
    // exact set: ids with older rows (0, 7 — in the base corpus) plus
    // ids with a ledger entry (3000); a fresh id (9999) needs no floor
    assert(entries.as[(Long, Long)].collect().toSet
      == Set((0L, 5L), (7L, 5L), (3000L, 5L)))
    // plan: both membership joins are BROADCAST semi-joins with the
    // batch ids as the build side — a shuffled join here re-shuffles the
    // corpus-scale doclens id column on every re-crawl commit
    val p = entries.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"floor-candidate membership must not shuffle the corpus side:\n" +
        p.take(1500))
    // the only exchange is the delta-scale distinct above the semi-joins:
    // no shuffle may sit BELOW a semi-join (i.e. on the corpus branch)
    val lines = p.linesIterator.toVector
    val lastJoin = lines.lastIndexWhere(_.contains("BroadcastHashJoin"))
    assert(!lines.drop(lastJoin + 1).exists(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")),
      s"a shuffle exchange sits below the membership joins:\n${p.take(2000)}")
  }

  test("upsert pinned to the CURRENT batch id is replay-only: a batch holding other documents refuses the overwrite") {
    val dir = tmp("lex_upsert_guard")
    val base = docs.where($"doc_id" < 200).select($"doc_id", $"text")
    LexIndex.build(base, "doc_id", "text", dir, nBuckets = 8)
    // append lands batch 1 with ids 200..209
    val appended = docs.where($"doc_id" >= 200 && $"doc_id" < 210)
      .select($"doc_id", $"text")
    LexIndex.append(spark, dir, appended, "doc_id", "text")
    // replaying the IDENTICAL batch id with a superset is legal (the
    // CrawlPipeline crash-retry shape) ...
    val replay = appended.unionByName(
      Seq((500L, "brand new zz_pin doc")).toDF("doc_id", "text"))
    LexIndex.upsert(spark, dir, replay, "doc_id", "text",
      batchId = Some(1L))
    assert(LexIndex.bm25TopKFromIndex(spark, dir, Seq("zz_pin"), 5)
      .where($"score" > 0).count() == 1)
    // ... but pinning that id while DROPPING one of its documents would
    // destroy that document's rows wholesale — refused loudly
    val partial = appended.where($"doc_id" =!= 205L)
      .select($"doc_id", concat($"text", lit(" zz_v9")).as("text"))
    val e = intercept[IllegalArgumentException] {
      LexIndex.upsert(spark, dir, partial, "doc_id", "text",
        batchId = Some(1L))
    }
    assert(e.getMessage.contains("destroy"), e.getMessage)
    // the refused commit left the index serving the replay's corpus
    assert(LexIndex.bm25TopKFromIndex(spark, dir, Seq("zz_v9"), 5)
      .where($"score" > 0).count() == 0, "a refused upsert landed rows")
  }

  test("maintain's pressure denominator is the LIVE count: nTs/(indexed − nTs)") {
    val corpus = (0L until 100L).map(i => (i, s"doc $i spark merge"))
      .toDF("doc_id", "text")
    // 20 tombstones over 100 indexed docs: 20/80 = 0.25 — NOT past the
    // threshold (strict >); the raw-count denominator would read 0.20
    // either way, but 21/79 ≈ 0.266 below must fire where 21/100 = 0.21
    // would not — the documented "fraction of the live documents"
    val dir = tmp("lex_live_frac")
    LexIndex.build(corpus, "doc_id", "text", dir, nBuckets = 4)
    LexIndex.delete(spark, dir, corpus.where($"doc_id" < 20)
      .select($"doc_id"), "doc_id")
    assert(!LexIndex.maintain(spark, dir, maxTombstoneFraction = 0.25),
      "maintain fired at exactly the live-fraction threshold (must be strict)")
    LexIndex.delete(spark, dir, corpus.where($"doc_id" === 20L)
      .select($"doc_id"), "doc_id")
    assert(LexIndex.maintain(spark, dir, maxTombstoneFraction = 0.25),
      "maintain did not fire past the LIVE-doc fraction (21/79 > 0.25; " +
        "a raw-count denominator would read 0.21 and miss it)")
  }

  test("an EMPTY index fails loudly at query time with the real reason, not an NPE") {
    val dir = tmp("lex_empty")
    // the daemon's bootstrap shape: a build over zero docs stores a stats
    // row with n=0, sumdl=NULL
    LexIndex.build(docs.limit(0), "doc_id", "text", dir, nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 5)
    }
    assert(e.getMessage.contains("no live documents"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      LexIndex.bm25TopKFromIndexMany(spark, dir, Seq("q" -> terms), k = 5)
    }
    assert(e2.getMessage.contains("no live documents"), e2.getMessage)
  }

  test("splitTombstoned heals a crashed whole-dir swap before reading tombstones") {
    val dir = tmp("lex_split_heal")
    LexIndex.build(docs.where($"doc_id" < 200), "doc_id", "text", dir,
      nBuckets = 4)
    LexIndex.delete(spark, dir,
      docs.where($"doc_id" < 10).select($"doc_id"), "doc_id")
    // simulate the compact crash window: the whole live dir renamed aside,
    // only `.old` remains — recovering just the tombstones subdir would
    // report "no tombstones" and the batch's subsequent append would throw
    // the re-add guard instead of deferring
    IndexFs.rename(dir, s"$dir.old")
    val (ok, deferred) = LexIndex.splitTombstoned(spark, dir,
      docs.where($"doc_id" < 200).select($"doc_id", $"text"), "doc_id")
    val nDel = docs.where($"doc_id" < 10).count()
    val nAll = docs.where($"doc_id" < 200).count()
    assert(IndexFs.exists(s"$dir/meta"), "swap not healed")
    assert(deferred.count() == nDel, "tombstoned ids not deferred after heal")
    assert(ok.count() == nAll - nDel)
  }

  test("bm25TopKFromIndexMany's one scoring pass ≡ the per-query recipe bit for bit: duplicate terms, an unindexed term, allowed, pending tombstones, an upserted id") {
    val dir = tmp("lex_onepass")
    val base = docs.where($"doc_id" < 400).select($"doc_id", $"text")
    LexIndex.build(base, "doc_id", "text", dir, nBuckets = 8)
    // a version floor for doc 7 (upsert) and pending deletions beside it
    LexIndex.upsert(spark, dir, base.where($"doc_id" === 7)
      .select($"doc_id", concat($"text", lit(" spark spark zz_up")).as("text")),
      "doc_id", "text")
    LexIndex.delete(spark, dir,
      base.where($"doc_id" % 5 === 0).select($"doc_id"), "doc_id")
    assert(IndexFs.exists(s"${IncrementalDedup.readRoot(dir)}/tombstones"))
    val qs = Seq(
      "dup" -> Seq("spark", "merge", "spark"),
      "none" -> Seq("nosuchterm_zzz"),
      "mixed" -> Seq("window", "nosuchterm_zzz", "merge"),
      "up" -> Seq("zz_up", "spark"))
    val allowed = base.where($"doc_id" % 3 =!= 0).select($"doc_id")
    def rows(df: DataFrame) = df.orderBy($"query_id", $"rank").collect().toSeq
    for (a <- Seq(None, Some(allowed))) {
      val got = LexIndex.bm25TopKFromIndexMany(spark, dir, qs, k = 25, allowed = a)
      val want = Bm25PerQueryRecipe(spark, dir, qs, k = 25, allowed = a)
      assert(got.columns.toSeq == want.columns.toSeq)
      val (g, w) = (rows(got), rows(want))
      assert(g == w, s"allowed=${a.isDefined}\none-pass: ${g.take(5)}\nrecipe:   ${w.take(5)}")
      assert(!g.exists(_.getAs[String]("query_id") == "none"))
      assert(g.exists(r => r.getAs[String]("query_id") == "up" &&
        r.getAs[Long]("id") == 7L), "the upserted version is not served")
      assert(!g.exists(r => r.getAs[Long]("id") % 5 == 0), "a deleted id surfaced")
    }
  }

  test("legacy layouts through the known-schema reads: a meta without analyzer/positions and an id-only tombstone table keep their defaults") {
    val dir = tmp("lex_legacy_ts")
    val corpus = docs.where($"doc_id" < 300)
    LexIndex.build(corpus, "doc_id", "text", dir, nBuckets = 4)
    Seq(4).toDF("nbuckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    // a delete written before the ledger was versioned: ids only
    corpus.where($"doc_id" % 6 === 0).select($"doc_id".as("id")).coalesce(1)
      .write.parquet(s"$dir/tombstones")
    def check(live: DataFrame, hint: String): Unit = {
      assertSame(LexIndex.bm25TopKFromIndex(spark, dir, terms, k = 10),
        TextSearch.bm25TopK(live, $"doc_id", $"text", terms, k = 10), hint)
      val many = LexIndex.bm25TopKFromIndexMany(spark, dir,
          Seq("q" -> terms), k = 10)
        .select($"id", $"dl", $"score").orderBy($"score".desc, $"id")
        .collect().toSeq
      val scan = TextSearch.bm25TopK(live, $"doc_id", $"text", terms, k = 10)
        .where($"score" > 0.0).select($"id", $"dl", $"score")
        .orderBy($"score".desc, $"id").collect().toSeq
      assert(many == scan, s"$hint (batched)")
    }
    check(corpus.where($"doc_id" % 6 =!= 0),
      "id-only tombstones did not read as full deletions")
    // the first versioned write migrates the ledger; answers stay exact
    LexIndex.delete(spark, dir, corpus.where($"doc_id" === 1)
      .select($"doc_id"), "doc_id")
    check(corpus.where($"doc_id" % 6 =!= 0 && $"doc_id" =!= 1),
      "the migrated ledger diverged")
  }

  test("a query's driver-side bucket equals bucketOf as the build computed it, ASCII and non-ASCII") {
    val words = Seq("spark", "Merge", "a", "naïve", "smörgåsbord", "Ångström",
      "日本語", "emoji😀", "x" * 300)
    for (n <- Seq(1, 8, 64, 1000)) {
      // evaluated per row (no constant folding): the executor path
      val want = spark.range(words.size)
        .select(LexIndex.bucketOf(element_at(typedLit(words),
          ($"id" + 1).cast("int")), n))
        .as[Int].collect().toSeq
      assert(words.map(LexIndex.bucketOfTerm(_, n)) == want, s"nBuckets=$n")
    }
    // and every posting a build wrote sits in its term's driver-side bucket
    val dir = tmp("lex_buckets")
    LexIndex.build(Seq((1L, words.mkString(" ")), (2L, "spark Ångström"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, nBuckets = 8)
    val stored = spark.read.parquet(s"$dir/postings")
      .select($"term", $"bucket").distinct().as[(String, Int)].collect()
    assert(stored.map(_._1).toSet == words.toSet)
    stored.foreach { case (t, b) =>
      assert(LexIndex.bucketOfTerm(t, 8) == b, s"'$t' stored in bucket $b")
    }
  }

  test("each batch writes at most one file per bucket dir: build, a small append, and the compact rewrite") {
    val dir = tmp("lex_files")
    LexIndex.build(docs.where($"doc_id" < 300), "doc_id", "text", dir,
      nBuckets = 8)
    LexIndex.append(spark, dir,
      docs.where($"doc_id" >= 300 && $"doc_id" < 306), "doc_id", "text")
    def check(root: String): Unit = {
      val batches = IndexFs.subdirNames(s"$root/postings")
      val bucketDirs = batches.flatMap(b =>
        IndexFs.subdirNames(s"$root/postings/$b").map(d => s"$root/postings/$b/$d"))
      assert(bucketDirs.nonEmpty)
      bucketDirs.foreach(d =>
        assert(IndexFs.fileNames(d).count(_.endsWith(".parquet")) <= 1, d))
    }
    check(IncrementalDedup.readRoot(dir))
    LexIndex.compact(spark, dir)
    check(IncrementalDedup.readRoot(dir))
  }
}
