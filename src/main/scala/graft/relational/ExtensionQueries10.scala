package graft.relational

import graft.core.{GraftQuery, Tables}
import graft.operators.{LexIndex, Similarity, TextSearch}
import org.apache.spark.sql.functions._

/** Round-18 wave: the persisted LEXICAL (BM25) index tier and filtered
  * hybrid retrieval. Both rows carry FULL DuckDB value oracles (ranks AND
  * doubles hash-checked cross-engine): the index tier's scores are
  * bit-identical to the scan formula by construction (LexIndex collects
  * the exact df/N/Σdl scalars and folds them into the same IEEE
  * expression tree), so the t50 oracle SQL verifies the INDEX-SERVED
  * result unchanged.
  */
object ExtensionQueries10 {

  /** Shared lexical-index fixture, built ONCE per (sfDir, JVM) — the
    * AnnGates.Fixture playbook: the lifecycle itself (build on the even
    * half, incremental append of the odd half) runs once per corpus and
    * is ALSO what the rows verify — an oracle hash-match on the appended
    * index proves the grown index serves the exact scan formula.
    */
  private val lexCache = scala.collection.mutable.HashMap.empty[String, String]
  private[relational] def lexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = synchronized {
    lexCache.getOrElseUpdate(d, {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fix_lex").toString + "/lex"
      LexIndex.build(docs.where($"doc_id" % 2 === 0), "doc_id", "text", dir)
      LexIndex.append(s, dir, docs.where($"doc_id" % 2 =!= 0),
        "doc_id", "text")
      dir
    })
  }

  val queries: Seq[GraftQuery] = Seq(
    // --------------------------------------------------------------- t137
    GraftQuery(
      "t137_bm25_index",
      (s, d) => {
        import s.implicits._
        // BM25 served FROM the persisted index (built incrementally:
        // even half built, odd half appended — the fixture): per term one
        // bucket-pruned posting-slice read, df counted from the live
        // slice, N/Σdl from the additive stats ledger — and the oracle is
        // the FULL-SCAN formula recomputed from raw text in DuckDB, so a
        // hash match proves index-served ≡ scan, doubles included.
        LexIndex.bm25TopKFromIndex(s, lexDir(s, d),
            terms = Seq("spark", "merge", "window"), k = 25)
          .select($"id".cast("bigint").as("doc_id"),
            $"dl", $"tf0", $"tf1", $"tf2", $"score")
          .orderBy($"score".desc, $"doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
             |d AS (SELECT doc_id,
             |  CAST(len(t) AS BIGINT) AS dl,
             |  CAST(len(list_filter(t, x -> x = 'spark')) AS BIGINT) AS tf0,
             |  CAST(len(list_filter(t, x -> x = 'merge')) AS BIGINT) AS tf1,
             |  CAST(len(list_filter(t, x -> x = 'window')) AS BIGINT) AS tf2
             |  FROM tok),
             |s AS (SELECT count(*) AS n, SUM(CAST(dl AS DECIMAL(20,0))) AS sumdl,
             |  SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             |  SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             |  SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
             |  FROM d)
             |SELECT CAST(doc_id AS BIGINT) AS doc_id, dl, tf0, tf1, tf2,
             |  ((CAST(n - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
             |    * ((CAST(tf0 AS DOUBLE) * 2.5) / (CAST(tf0 AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             |  + ((CAST(n - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
             |    * ((CAST(tf1 AS DOUBLE) * 2.5) / (CAST(tf1 AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             |  + ((CAST(n - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
             |    * ((CAST(tf2 AS DOUBLE) * 2.5) / (CAST(tf2 AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             |  AS score
             |FROM d CROSS JOIN s
             |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin),
      doc = "Persisted lexical index tier (LexIndex): BM25 top-25 served " +
        "from term-hash-bucketed posting slices (partition pruning at the " +
        "scan — df rows read per query term, never the corpus), built " +
        "incrementally (even half built, odd half appended under the " +
        "additive df/N/Σdl ledgers). The oracle recomputes the full-scan " +
        "t50 formula from raw text — the hash match proves index-served " +
        "≡ scan bit-for-bit, doubles included."
    ),
    // --------------------------------------------------------------- t138
    GraftQuery(
      "t138_hybrid_filtered",
      (s, d) => {
        import s.implicits._
        // FILTERED hybrid retrieval: an allowed-ids predicate threads
        // through BOTH pool builders — the lexical pool reads the
        // persisted index's posting slices and semi-joins the allowed set
        // AFTER scoring (corpus-calibrated scores, the only semantics a
        // pre-built index can serve), the dense pool restricts candidates
        // before its top-k heap — and the fused top-k can therefore never
        // surface a disallowed id. Full value oracle (t135's recipe under
        // the same predicate): ranks AND rrf doubles hash cross-engine.
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val poolK = 50
        val allowed = docs.where($"doc_id" % 3 === 0).select($"doc_id")
        val lexW = org.apache.spark.sql.expressions.Window
          .orderBy($"score".desc, $"id")
        val lex = LexIndex.bm25TopKFromIndex(s, lexDir(s, d),
            terms = Seq("spark", "merge", "window"), k = poolK,
            allowed = Some(allowed))
          .select($"id", row_number().over(lexW).cast("bigint").as("rank"))
        val qv = emb.where($"vec_id" === 0).select($"embedding".as("qv"))
        val denseW = org.apache.spark.sql.expressions.Window
          .orderBy($"sim".desc, $"id")
        val dense = emb.where($"vec_id" % 3 === 0).crossJoin(broadcast(qv))
          .select($"vec_id".as("id"),
            Similarity.cosine($"embedding", $"qv").as("sim"))
          .orderBy($"sim".desc, $"id").limit(poolK)
          .withColumn("rank", row_number().over(denseW).cast("bigint"))
          .select($"id", $"rank")
        TextSearch.rrfFuse(Seq(lex, dense), k = 20)
          .select($"id".cast("bigint").as("doc_id"),
            $"rank_0".as("lex_rank"), $"rank_1".as("dense_rank"),
            $"rrf_score", $"fused_rank")
          .orderBy($"fused_rank")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
             |dd AS (SELECT doc_id,
             |  CAST(len(t) AS BIGINT) AS dl,
             |  CAST(len(list_filter(t, x -> x = 'spark')) AS BIGINT) AS tf0,
             |  CAST(len(list_filter(t, x -> x = 'merge')) AS BIGINT) AS tf1,
             |  CAST(len(list_filter(t, x -> x = 'window')) AS BIGINT) AS tf2
             |  FROM tok),
             |st AS (SELECT count(*) AS n, SUM(CAST(dl AS DECIMAL(20,0))) AS sumdl,
             |  SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             |  SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             |  SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
             |  FROM dd),
             |scored AS (SELECT doc_id,
             |  ((CAST(n - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
             |    * ((CAST(tf0 AS DOUBLE) * 2.5) / (CAST(tf0 AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             |  + ((CAST(n - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
             |    * ((CAST(tf1 AS DOUBLE) * 2.5) / (CAST(tf1 AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             |  + ((CAST(n - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
             |    * ((CAST(tf2 AS DOUBLE) * 2.5) / (CAST(tf2 AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             |  AS score
             |  FROM dd CROSS JOIN st),
             |lex AS (SELECT doc_id,
             |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
             |  FROM scored WHERE doc_id % 3 = 0 ORDER BY score DESC, doc_id LIMIT 50),
             |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
             |sims AS (SELECT e.vec_id AS doc_id,
             |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
             |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             |         * sqrt(list_dot_product(q.qv, q.qv))) AS sim
             |  FROM embeddings e CROSS JOIN q WHERE e.vec_id % 3 = 0),
             |dense AS (SELECT doc_id,
             |    CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS dense_rank
             |  FROM sims ORDER BY sim DESC, doc_id LIMIT 50),
             |fused AS (SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
             |    l.lex_rank, de.dense_rank,
             |    COALESCE(1.0 / (60 + l.lex_rank), 0.0)
             |      + COALESCE(1.0 / (60 + de.dense_rank), 0.0) AS rrf_score
             |  FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id)
             |SELECT doc_id, lex_rank, dense_rank, rrf_score,
             |  CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS fused_rank
             |FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin),
      doc = "Filtered hybrid retrieval: an allowed-ids set (doc_id % 3) " +
        "threads through BOTH pools — the lexical pool is served from the " +
        "persisted index's posting slices with the allowed semi-join " +
        "AFTER scoring (corpus-calibrated, the pre-built-index " +
        "semantics), the dense pool restricts candidates before its " +
        "top-k heap — fused by reciprocal-rank fusion. The oracle " +
        "recomputes both filtered rankings and the fixed-order RRF sum " +
        "bit-exactly; no disallowed id can appear in the fused top-k."
    ),
    // --------------------------------------------------------------- t139
    GraftQuery(
      "t139_phrase_index",
      (s, d) => {
        import s.implicits._
        // exact 3-term phrase counts served FROM the persisted index's
        // positional tier: a 2-fold position-offset equi-join over the
        // three terms' bucket-pruned posting slices — work scales with
        // the phrase terms' document frequencies, never the corpus. The
        // oracle recomputes from raw text with the index's tokenization
        // (whitespace split, NO case folding — unlike t81's lowercased
        // scan operator), so the hash match proves the stored positions
        // reproduce the text exactly.
        LexIndex.phraseCountFromIndex(s, lexDir(s, d),
            Seq("big", "order", "scan"))
          .select($"id".cast("bigint").as("doc_id"), $"n_matches")
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, generate_subscripts(ts, 1) AS pos, unnest(ts) AS w
             |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |        FROM documents)),
             |tk AS (SELECT * FROM tok WHERE len(w) > 0)
             |SELECT CAST(a.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_matches
             |FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |          JOIN tk c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
             |WHERE a.w = 'big' AND b.w = 'order' AND c.w = 'scan'
             |GROUP BY 1 ORDER BY doc_id""".stripMargin),
      doc = "Index-served exact PHRASE search (LexIndex positional tier): " +
        "a 3-term phrase as the 2-fold position-offset equi-join over " +
        "bucket-pruned live posting slices — overlaps count, order " +
        "matters, tombstoned docs exactly absent; the oracle recomputes " +
        "the counts from raw text under the index's tokenization."
    ),
    // --------------------------------------------------------------- t140
    GraftQuery(
      "t140_lex_lifecycle",
      (s, d) => {
        import s.implicits._
        // the lexical index LIFECYCLE as a gate: (1) a REPLAYED delta
        // append (same pinned batch id) leaves counts and scores
        // identical — the additive ledgers never double-count; (2) a
        // takedown's corrections are EXACT: the tombstoned index scores
        // row-identically to a full scan over the remaining corpus;
        // (3) splitTombstoned defers exactly the tombstoned ids; (4)
        // tombstone pressure fires maintain's compact, the table clears,
        // answers stay row-identical, and the next maintain is a no-op.
        // Dedicated (non-fixture) dir — deletion mutates.
        val docs = Tables.documents(s, d)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_t140").toString + "/lex"
        val terms = Seq("spark", "merge", "window")
        LexIndex.build(docs.where($"doc_id" % 2 === 0), "doc_id", "text",
          dir, nBuckets = 16)
        LexIndex.append(s, dir, docs.where($"doc_id" % 2 =!= 0),
          "doc_id", "text", batchId = Some(5L))
        val nDocs = s.read.parquet(s"$dir/doclens").count()
        def top() = LexIndex.bm25TopKFromIndex(s, dir, terms, k = 20)
          .localCheckpoint()
        val t0 = top()
        // (1) replay the pinned delta
        LexIndex.append(s, dir, docs.where($"doc_id" % 2 =!= 0),
          "doc_id", "text", batchId = Some(5L))
        val nReplay = s.read.parquet(s"$dir/doclens").count()
        // one post-replay query, consumed by both except directions (the
        // frame is checkpointed — a second top() re-ran the whole indexed
        // BM25 pipeline for the same rows)
        val t1 = top()
        val replayDiff = t1.exceptAll(t0).unionAll(t0.exceptAll(t1))
          .count()
        // (2) takedown exactness vs the remaining-corpus scan
        val delPred = $"doc_id" % 5 === 0
        LexIndex.delete(s, dir, docs.where(delPred).select($"doc_id"),
          "doc_id")
        // the remaining-corpus reference scan and the tombstoned-index query
        // are independent reads of the committed post-delete state — overlap
        // their materializations (guide §2.6, same values either way)
        val (scanRemaining, tDel) = graft.core.Par.both(
          TextSearch.bm25TopK(docs.where(!delPred),
            $"doc_id", $"text", terms, k = 20).localCheckpoint(),
          top())
        val delDiff = tDel.exceptAll(scanRemaining)
          .unionAll(scanRemaining.exceptAll(tDel)).count()
        // (3) the ingest split defers exactly the tombstoned ids
        val (_, deferred) = LexIndex.splitTombstoned(s, dir,
          docs.select($"doc_id", $"text"), "doc_id")
        val deferredWrong = deferred.select($"doc_id")
          .exceptAll(docs.where(delPred).select($"doc_id"))
          .unionAll(docs.where(delPred).select($"doc_id")
            .exceptAll(deferred.select($"doc_id"))).count()
        // (4) pressure compact: resolve, clear, row-identical, then no-op
        val fired = LexIndex.maintain(s, dir, maxTombstoneFraction = 0.05)
        val tPost = top()
        val postDiff = tPost.exceptAll(scanRemaining)
          .unionAll(scanRemaining.exceptAll(tPost)).count()
        val second = LexIndex.maintain(s, dir, maxTombstoneFraction = 0.05)
        def flag(bad: Boolean, a: Long, b: Long, why: String) =
          if (!bad) s.emptyDataset[(Long, Long, String)]
            .toDF("id_a", "id_b", "reason")
          else Seq((a, b, why)).toDF("id_a", "id_b", "reason")
        val sentinel = Seq((-1L, -1L, "sentinel")).toDF("id_a", "id_b", "reason")
        Seq(
          flag(nReplay != nDocs, nReplay, nDocs, "replay_double_counted"),
          flag(replayDiff != 0, replayDiff, 0L, "replay_changed_scores"),
          flag(delDiff != 0, delDiff, 0L, "takedown_not_exact"),
          flag(deferredWrong != 0, deferredWrong, 0L, "defer_split_wrong"),
          flag(!fired, -2L, -2L, "pressure_did_not_compact"),
          flag(graft.operators.IndexFs.exists(
              s"${graft.operators.IncrementalDedup.readRoot(dir)}/tombstones"),
            -3L, -3L, "tombstones_not_cleared"),
          flag(postDiff != 0, postDiff, 0L, "compact_changed_answers"),
          flag(second, -4L, -4L, "second_maintain_not_noop"))
          .reduce(_ unionAll _).unionAll(sentinel)
          .orderBy($"id_a", $"id_b", $"reason")
      },
      Some(AnnGates.oracle),
      doc = "Lexical index lifecycle gate: a replayed pinned-batch delta " +
        "append never double-counts the additive df/N/Σdl ledgers " +
        "(counts and scores identical), takedown corrections are exact " +
        "(tombstoned index ≡ a scan over the remaining corpus, doubles " +
        "included), splitTombstoned defers exactly the tombstoned ids, " +
        "and tombstone pressure compacts physically with row-identical " +
        "answers, a cleared table, and a no-op next maintain; " +
        "violations + sentinel, constant oracle.",
      gate = true
    ),
    // --------------------------------------------------------------- t141
    GraftQuery(
      "t141_bm25_batch",
      (s, d) => {
        import s.implicits._
        // BATCHED retrieval: three queries served from ONE pass over the
        // union of their term slices — fixed driver-job count regardless
        // of query count (the production many-queries shape; the
        // single-query path pays its handful of tiny jobs per call).
        // Matched-docs-only by contract; each term score is the single
        // path's IEEE tree, added in term order, so the oracle recomputes
        // each query's scores from raw text with the t50 formula and
        // ranks per query.
        LexIndex.bm25TopKFromIndexMany(s, lexDir(s, d), Seq(
            "q_a" -> Seq("spark", "merge"),
            "q_b" -> Seq("window"),
            "q_c" -> Seq("merge", "window")), k = 12)
          .select($"query_id", $"id".cast("bigint").as("doc_id"),
            $"dl", $"score", $"rank")
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
             |dd AS (SELECT doc_id,
             |  CAST(len(t) AS BIGINT) AS dl,
             |  CAST(len(list_filter(t, x -> x = 'spark')) AS BIGINT) AS tfs,
             |  CAST(len(list_filter(t, x -> x = 'merge')) AS BIGINT) AS tfm,
             |  CAST(len(list_filter(t, x -> x = 'window')) AS BIGINT) AS tfw
             |  FROM tok),
             |st AS (SELECT count(*) AS n, SUM(CAST(dl AS DECIMAL(20,0))) AS sumdl,
             |  SUM(CASE WHEN tfs > 0 THEN 1 ELSE 0 END) AS dfs,
             |  SUM(CASE WHEN tfm > 0 THEN 1 ELSE 0 END) AS dfm,
             |  SUM(CASE WHEN tfw > 0 THEN 1 ELSE 0 END) AS dfw
             |  FROM dd),
             |sc AS (SELECT doc_id, dl,
             |  ((CAST(n - dfs AS DOUBLE) + 0.5) / (CAST(dfs AS DOUBLE) + 0.5))
             |    * ((CAST(tfs AS DOUBLE) * 2.5) / (CAST(tfs AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))) AS f_s,
             |  ((CAST(n - dfm AS DOUBLE) + 0.5) / (CAST(dfm AS DOUBLE) + 0.5))
             |    * ((CAST(tfm AS DOUBLE) * 2.5) / (CAST(tfm AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))) AS f_m,
             |  ((CAST(n - dfw AS DOUBLE) + 0.5) / (CAST(dfw AS DOUBLE) + 0.5))
             |    * ((CAST(tfw AS DOUBLE) * 2.5) / (CAST(tfw AS DOUBLE)
             |        + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))) AS f_w,
             |  tfs, tfm, tfw
             |  FROM dd CROSS JOIN st),
             |u AS (
             |  SELECT 'q_a' AS query_id, doc_id, dl, f_s + f_m AS score,
             |    CAST(ROW_NUMBER() OVER (ORDER BY f_s + f_m DESC, doc_id) AS BIGINT) AS rank
             |  FROM sc WHERE tfs > 0 OR tfm > 0
             |  UNION ALL
             |  SELECT 'q_b', doc_id, dl, f_w,
             |    CAST(ROW_NUMBER() OVER (ORDER BY f_w DESC, doc_id) AS BIGINT)
             |  FROM sc WHERE tfw > 0
             |  UNION ALL
             |  SELECT 'q_c', doc_id, dl, f_m + f_w,
             |    CAST(ROW_NUMBER() OVER (ORDER BY f_m + f_w DESC, doc_id) AS BIGINT)
             |  FROM sc WHERE tfm > 0 OR tfw > 0)
             |SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, dl, score, rank
             |FROM u WHERE rank <= 12 ORDER BY query_id, rank""".stripMargin),
      doc = "Batched BM25 retrieval (LexIndex.bm25TopKFromIndexMany): " +
        "three queries served from ONE pass over the union of their term " +
        "slices — one read of the probed bucket dirs, one grouped df " +
        "count, the stats ledger summed on the driver, and one scoring " +
        "pass (a broadcast (query, term, slot, idf) join, term scores " +
        "added in slot order per (query, doc)), so the job count does not " +
        "grow with the query count. Matched docs only; per-query ranks via " +
        "a query-partitioned window. The oracle recomputes every query's " +
        "scores from raw text (the t50 formula) — ranks AND doubles hash " +
        "cross-engine."
    )
  )
}
