package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
// Spark's lower, same result, without the collation layer's per-JVM init
import graft.expressions.GraftFunctions.lower

/** Full-text relevance retrieval over a document corpus — BM25 scoring with
  * a deterministic top-k, the "find me training docs about X" primitive.
  *
  * Shape at scale: per-document term frequencies and length are narrow
  * per-row HOFs (scan-speed, no shuffle); the corpus statistics (N, Σdl,
  * per-term document frequencies) reduce to ONE single-row aggregate that is
  * cross-joined back as a broadcast, so scoring is again embarrassingly
  * parallel; the top-k is `orderBy(...).limit(k)` — Spark's TakeOrdered, a
  * per-partition heap + driver merge of k rows, never a global sort.
  *
  * Numeric contract: the classic BM25 idf is `ln((N-df+0.5)/(df+0.5))`;
  * `ln` is a libm call whose last ulp differs across engines, which would
  * break exact cross-engine verification. Ranking only needs monotonicity,
  * so this operator uses the RATIONAL idf `(N-df+0.5)/(df+0.5)` — every
  * operation in the whole score is then IEEE `+ * /` on doubles, which are
  * exactly rounded and therefore bit-identical in any compliant engine (the
  * DuckDB oracle reproduces the score bit-for-bit). Defaults `k1 = 1.5`,
  * `b = 0.75` are chosen exactly representable in binary so `k1 + 1` and
  * `1 - b` introduce no literal-parsing ambiguity either.
  */
object TextSearch {

  /** Per-term scores and their sum for `terms`, top `k` docs by
    * `(score DESC, id)`. Output: `id`, `dl`, `tf0..tfN`, `score`.
    *
    * @param allowed optional retrieval filter (a frame whose FIRST column
    *        is the allowed id set): only these ids can surface, but the
    *        corpus statistics (df/N/Σdl) stay UNFILTERED — the filter
    *        restricts what is retrievable, not how scores are calibrated
    *        (the standard filtered-search semantics, and the only one a
    *        pre-built index can serve without per-filter stats).
    * @param analyzer `raw` (default: the historical tokenization, no case
    *        folding) or `folded` (NFC + lowercase) — the SAME analyzer
    *        option [[LexIndex]] persists, applied to the text and the
    *        query terms identically, so index ≡ scan stays provable per
    *        analyzer.
    */
  def bm25TopK(df: DataFrame, idCol: Column, textCol: Column, terms: Seq[String],
      k: Int, k1: Double = 1.5, b: Double = 0.75,
      allowed: Option[DataFrame] = None,
      analyzer: String = "raw"): DataFrame = {
    require(terms.nonEmpty && k >= 1)
    val termsA = LexIndex.analyzeTerms(df.sparkSession, terms, analyzer)
    val toks = split(trim(LexIndex.analyze(textCol, analyzer)), "\\s+")
    val base = df.select(idCol.as("id"), toks.as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("bigint"))
    val withTf = termsA.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"tf$i", size(filter(col("__toks"), x => x === lit(t))).cast("bigint"))
    }
    val statAggs = Seq(
      count(lit(1)).as("__n"),
      // Exact decimal Σdl: partial-aggregation order cannot move the result.
      sum(col("dl").cast("decimal(20,0)")).as("__sumdl")) ++
      terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    // the allowed semi-join lands AFTER the stats aggregation branches off
    // (scores stay corpus-calibrated) and BEFORE scoring/top-k (disallowed
    // ids can never surface, and the heap only sees allowed rows)
    val retrievable = allowed match {
      case Some(a) => withTf.join(
        a.select(col(a.columns.head).as("id")).distinct(), Seq("id"), "left_semi")
      case None => withTf
    }
    val scored = retrievable.crossJoin(broadcast(stats))
    // avgdl and every factor below mirror the oracle SQL token for token —
    // identical IEEE expression tree, identical doubles.
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val rel = col("dl").cast("double") / avgdl
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val idf = ((col("__n") - col(s"__df$i")).cast("double") + lit(0.5)) /
        (col(s"__df$i").cast("double") + lit(0.5))
      idf * ((tf * lit(k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * rel)))
    }
    val score = terms.indices.map(termScore).reduceLeft(_ + _)
    scored
      .select(col("id") +: col("dl") +: terms.indices.map(i => col(s"tf$i")) :+
        score.as("score"): _*)
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of per-modality candidate rankings — the
    * standard hybrid-retrieval combiner (Cormack/Clarke/Büttcher, SIGIR
    * 2009): each list contributes `1 / (rrfK + rank)` for the ids it
    * ranked, scores add across lists, ties break on id. Rank-based on
    * purpose — BM25 scores and cosine sims live on incomparable scales,
    * and RRF needs no per-modality calibration, which is why production
    * hybrid search (lexical + dense) defaults to it.
    *
    * Inputs are `(id, rank)` frames — the TOP-K POOLS the distributed
    * retrieval operators already produce ([[bm25TopK]], an ANN query's
    * ranked output), so each is ≤ k·|lists| rows by contract and the
    * fusion itself is candidate-pool-scale work above fully distributed
    * candidate generation; the global window here ranks that small fused
    * pool, never a corpus.
    *
    * Determinism: the score is an EXPLICIT fixed-order sum over the lists
    * (list 0 first), never an aggregation over a shuffle — float addition
    * is order-sensitive and the score must be reproducible bit-for-bit
    * (the registry oracle compares exact doubles cross-engine).
    *
    * Both halves of the input contract are ENFORCED, not just documented
    * (one tiny aggregation job per input — the pools are candidate-pool
    * scale by contract, so the check is cheap and fails loudly):
    *   - pool size: an input past `maxPoolRows` is a corpus-scale frame,
    *     not a top-k pool — fusing it would single-partition-sort the
    *     corpus through the global fused-rank window;
    *   - id distinctness: a duplicate id in any input fans out through
    *     the chained full-outer joins, silently inflating rrf_score and
    *     the fused pool.
    *
    * @return (id, rank_0..rank_{n-1} — null where a list did not rank the
    *         id, rrf_score, fused_rank), top `k` by (rrf_score desc, id)
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60,
      maxPoolRows: Long = 10000L): DataFrame = {
    require(rankings.nonEmpty && k >= 1 && rrfK >= 0 && maxPoolRows >= 1)
    // each ranking is materialized ONCE (localCheckpoint) and BOTH the
    // contract checks and the fusion read the pinned rows — the earlier
    // shape ran an eager validation aggregate and then re-executed each
    // (non-checkpointed) ranking plan inside the fusion, roughly doubling
    // per-query pool computation on the hybrid path, and a
    // non-deterministic input could pass validation yet fuse different
    // rows. The pre-checkpoint `limit(maxPoolRows + 1)` bounds what a
    // contract-VIOLATING corpus-scale input can materialize: the loud
    // size error still fires, it just cannot OOM the executors first.
    val pinned = rankings.map(r =>
      r.select(col("id"), col("rank").cast("bigint").as("rank"))
        .limit(math.min(maxPoolRows + 1, Int.MaxValue.toLong).toInt)
        .localCheckpoint())
    pinned.zipWithIndex.foreach { case (r, i) =>
      val c = r.agg(count(lit(1)).as("n"),
        count_distinct(col("id")).as("nd")).head()
      val (n, nd) = (c.getLong(0), c.getLong(1))
      require(n <= maxPoolRows,
        s"rrfFuse input $i has more than maxPoolRows = $maxPoolRows rows " +
          "— inputs must be TOP-K CANDIDATE POOLS: fusing a corpus-scale " +
          "frame would single-partition-sort the corpus through the fused-" +
          "rank window. Pre-limit the ranking (orderBy(...).limit(k)) or " +
          "raise maxPoolRows deliberately")
      require(nd == n,
        s"rrfFuse input $i ranks a duplicate id ($n rows, $nd distinct " +
          "ids) — each ranking must rank an id at most once; duplicates " +
          "fan out through the full-outer joins and inflate rrf_score")
    }
    val named = pinned.zipWithIndex.map { case (r, i) =>
      r.select(col("id"), col("rank").as(s"rank_$i"))
    }
    val joined = named.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(rrfK) + col(s"rank_$i")), lit(0.0)))
      .reduceLeft(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_score").desc, col("id"))
    joined.withColumn("rrf_score", score)
      .withColumn("fused_rank", row_number().over(w).cast("bigint"))
      .where(col("fused_rank") <= k)
  }

  /** BATCHED reciprocal-rank fusion — [[rrfFuse]] for MANY queries in one
    * plan: inputs are `(query_id, id, rank)` frames (one row per ranked
    * candidate per query), fused per query by the same fixed-order
    * `Σ 1/(rrfK + rank)` sum, ranked by a window PARTITIONED BY query —
    * parallel across queries, candidate-pool scale per query, never a
    * global sort. This is the fusion tier of the batched hybrid path
    * ([[hybridSearchMany]]): Q queries cost ONE fusion plan, not Q.
    *
    * The [[rrfFuse]] pool contract is enforced PER QUERY (each query's
    * pool in each input must be a top-k candidate pool: ≤
    * `maxPoolRowsPerQuery` rows, no duplicate id) — inputs are pinned
    * once (localCheckpoint) and both the checks and the fusion read the
    * pinned rows.
    *
    * @return (query_id, id, rank_0..rank_{n-1}, rrf_score, fused_rank),
    *         top `k` per query by (rrf_score desc, id)
    */
  def rrfFuseMany(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60,
      maxPoolRowsPerQuery: Long = 10000L): DataFrame = {
    require(rankings.nonEmpty && k >= 1 && rrfK >= 0 &&
      maxPoolRowsPerQuery >= 1)
    val pinned = rankings.map(r =>
      r.select(col("query_id"), col("id"),
        col("rank").cast("bigint").as("rank")).localCheckpoint())
    pinned.zipWithIndex.foreach { case (r, i) =>
      val c = r.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("id")).as("nd"))
        .agg(coalesce(max(col("n")), lit(0L)).as("mx"),
          coalesce(sum(when(col("nd") =!= col("n"), 1L).otherwise(0L)),
            lit(0L)).as("bad")).head()
      require(c.getLong(0) <= maxPoolRowsPerQuery,
        s"rrfFuseMany input $i holds a per-query pool of ${c.getLong(0)} " +
          s"rows (> maxPoolRowsPerQuery = $maxPoolRowsPerQuery) — inputs " +
          "must be TOP-K CANDIDATE POOLS per query; pre-limit each " +
          "query's ranking or raise maxPoolRowsPerQuery deliberately")
      require(c.getLong(1) == 0L,
        s"rrfFuseMany input $i ranks a duplicate id within a query " +
          s"(${c.getLong(1)} queries affected) — each ranking must rank " +
          "an id at most once per query; duplicates fan out through the " +
          "full-outer joins and inflate rrf_score")
    }
    val named = pinned.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("id"), col("rank").as(s"rank_$i"))
    }
    val joined = named.reduce((a, b) =>
      a.join(b, Seq("query_id", "id"), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(rrfK) + col(s"rank_$i")), lit(0.0)))
      .reduceLeft(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf_score").desc, col("id"))
    joined.withColumn("rrf_score", score)
      .withColumn("fused_rank", row_number().over(w).cast("bigint"))
      .where(col("fused_rank") <= k)
  }

  /** BATCHED hybrid retrieval end-to-end — Q (terms, query-vector) pairs
    * served in a FIXED number of driver jobs regardless of Q: the lexical
    * pools come from ONE [[LexIndex.bm25TopKFromIndexMany]] pass over the
    * union of the queries' posting slices, the dense pools from ONE
    * multi-row [[Similarity.annQuery]] call (one union-of-probed-cells
    * read — the queries frame is plural by design; looping the
    * single-query call instead pays per-call driver actions Q times),
    * and the fusion from ONE [[rrfFuseMany]] plan. This is the serving /
    * evaluation shape: a 10k-query recall sweep is a handful of jobs,
    * not 10k.
    *
    * The dense pool goes through the LAYOUT-DISPATCHED front door
    * ([[Similarity.annQuery]] / [[Similarity.annQueryFilteredAdaptive]]):
    * on a composed (IVF-PQ) index the pool forms over the codes-only ADC
    * scan + bounded exact re-rank — never a full-vector read of every
    * probed cell (plan-pinned: the hybrid ADC scan's ReadSchema carries
    * `codes` and no vector column). Exact sims come out of the re-rank
    * either way, so fusion is layout-blind.
    *
    * Per query, the fused rows are VALUE-IDENTICAL to composing the
    * single-query operators ([[LexIndex.bm25TopKFromIndex]] ranked by
    * (score desc, id) + [[Similarity.ivfQuery]] + [[rrfFuse]]) whenever
    * the query matches ≥ poolK documents lexically — the batched lexical
    * path ranks MATCHING documents only (no zero-score fill), so a
    * query with fewer matches fuses a smaller (still correct) pool where
    * the single path would pad with zero-score ids.
    *
    * @param queries     (query id, query terms) — the id must key a row
    *                    of `embeddings` carrying the query's vector
    * @param embeddings  (idCol, vecCol) frame the query vectors are
    *                    pulled from (self-matches are excluded dense-side
    *                    by id, the [[Similarity.ivfQuery]] contract)
    * @param allowed     optional retrieval filter threaded through BOTH
    *                    pool builders (no disallowed id can surface);
    *                    dense side uses the measured-selectivity adaptive
    *                    probe correction
    * @return (query_id — the id as a string, id, rank_0 = lexical rank,
    *         rank_1 = dense rank, rrf_score, fused_rank), top `k` per
    *         query
    */
  def hybridSearchMany(spark: org.apache.spark.sql.SparkSession,
      lexIndexDir: String, annIndexDir: String,
      queries: Seq[(Long, Seq[String])], embeddings: DataFrame,
      idCol: String, vecCol: String, k: Int, poolK: Int = 50,
      nProbe: Int = 8, rrfK: Int = 60,
      allowed: Option[DataFrame] = None, rerank: Int = 100): DataFrame = {
    require(queries.nonEmpty && k >= 1 && poolK >= k,
      s"need nonempty queries and poolK >= k (got k=$k poolK=$poolK)")
    val qids = queries.map(_._1)
    require(qids.distinct.size == qids.size, "duplicate query ids")
    val lex = LexIndex.bm25TopKFromIndexMany(spark, lexIndexDir,
        queries.map { case (q, ts) => q.toString -> ts }, k = poolK,
        allowed = allowed)
      .select(col("query_id"), col("id"), col("rank"))
    val qvs = embeddings
      .where(col(idCol).isin(qids: _*))
      .select(col(idCol), col(vecCol))
    val pool = math.max(rerank, poolK)
    val dense = (allowed match {
      case Some(a) => Similarity.annQueryFilteredAdaptive(spark, annIndexDir,
        qvs, idCol, vecCol, a, a.columns.head, k = poolK,
        baseNProbe = nProbe, rerank = pool)
      case None => Similarity.annQuery(spark, annIndexDir, qvs, idCol,
        vecCol, k = poolK, nProbe = nProbe, rerank = pool)
    }).select(col("query_id").cast("string").as("query_id"),
      col("neighbor_id").as("id"), col("rank"))
    rrfFuseMany(Seq(lex, dense), k = k, rrfK = rrfK)
  }

  /** Positional postings — the inverted index WITH positions that phrase
    * and proximity queries need (BM25 above is bag-of-words and cannot
    * tell "hash table" from "table hash"). One narrow explode; (term, doc,
    * pos) rows shuffle, never text.
    */
  def positionalPostings(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("id"),
        posexplode(split(trim(lower(textCol)), "\\s+")).as(Seq("pos", "term")))
      .where(length(col("term")) > 0)

  /** Exact PHRASE match counts per document: an n-term phrase is an
    * (n-1)-fold position-offset EQUI-join over the phrase terms' posting
    * slices — `p_k.pos = p_0.pos + k` on the same doc. Each join input is
    * the postings of ONE term (the index slice a search engine would read),
    * so the join is tiny regardless of corpus size; overlapping matches
    * count separately, standard phrase semantics. Returns (id, n_matches)
    * for documents with at least one occurrence.
    */
  def phraseCount(df: DataFrame, idCol: Column, textCol: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val post = positionalPostings(df, idCol, textCol)
    val slices = phrase.zipWithIndex.map { case (t, k) =>
      post.where(col("term") === t)
        .select(col("id"), (col("pos") - k).as("p0"))
    }
    slices.reduceLeft((a, b) => a.join(b, Seq("id", "p0")))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("bigint").as("n_matches"))
  }
}
