package graft.relational

import graft.core.{GraftQuery, Tables}
import graft.operators.{AnnMaintenance, IndexFs, Similarity}
import org.apache.spark.sql.functions._

/** Round-17 wave: the tombstone-pressure maintenance policy — the
  * operational closure of the round-16 delete arc. Deletions now resolve
  * physically by POLICY ([[graft.operators.AnnMaintenance.maintain]]'s
  * tombstone sensor), not by an operator remembering to run a compact,
  * and the tombstone table itself is file-bounded (the drift_log fold
  * discipline applied to takedown batches). Same contract as
  * [[ExtensionQueries]]: constant-gate verdict frames that must
  * hash-match exactly at sf0.01/sf0.001.
  */
object ExtensionQueries9 {

  val queries: Seq[GraftQuery] = Seq(
    // --------------------------------------------------------------- t134
    GraftQuery(
      "t134_tombstone_policy",
      (s, d) => {
        import s.implicits._
        // the tombstone LIFECYCLE as a gate: (1) takedown batches past
        // the fold budget leave a BOUNDED tombstone file count; (2) no
        // deleted id surfaces from the query path while tombstones are
        // pending; (3) tombstone pressure fires maintain's COMPACT
        // (physical resolve — never the quantizer-retraining rebuild);
        // (4) the resolve is invisible to queries (row-identical answers)
        // and clears the table, so (5) the next maintain is a no-op.
        // Dedicated (non-fixture) dir — deletion mutates — but BUILT over
        // the reduced fixture corpus (round-18: the arc's claims are
        // corpus-independent, and the build was gate-wall, not signal).
        val emb = AnnGates.Fixture.reduced(s, d)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_t134").toString + "/idx"
        Similarity.ivfBuild(emb, "vec_id", "embedding", nCells = 8, dir)
        val n = emb.count()
        // 18 takedown batches (strictly past the 16-file fold budget),
        // residue classes {0,3,..,51} mod 270 = 18 of the 90 classes the
        // reduced ids occupy = 20% of the corpus
        (0 until 18).foreach { r =>
          Similarity.ivfDelete(s, dir,
            emb.where($"vec_id" % 270 === 3 * r).select($"vec_id"), "vec_id")
        }
        val delIds = emb.where($"vec_id" % 270 < 54)
          .select($"vec_id").localCheckpoint()
        val nDel = delIds.count()
        val tsFiles = IndexFs.fileNames(s"$dir/tombstones")
          .count(_.endsWith(".parquet"))

        val queryRows = emb.orderBy($"vec_id").limit(4)
        def answers() = Similarity.ivfQuery(s, dir, queryRows,
          "vec_id", "embedding", k = 5, nProbe = 8).localCheckpoint()
        val pre = answers()
        val surfaced = pre
          .join(delIds.select($"vec_id".as("neighbor_id")),
            Seq("neighbor_id"), "left_semi")
          .select($"query_id".as("id_a"), $"neighbor_id".as("id_b"),
            lit("deleted_surfaced").as("reason"))

        val policy = AnnMaintenance.MaintenancePolicy(maxDriftRatio = 1e9,
          sustainAppends = 1, maxMixtureTv = None,
          maxTombstoneFraction = Some(0.1))
        val fired = AnnMaintenance.maintain(s, dir, policy)
        val post = answers()
        val second = AnnMaintenance.maintain(s, dir, policy)
        // the compact committed a new GENERATION — resolve before reading
        val postRoot = graft.operators.IncrementalDedup.readRoot(dir)
        val live = s.read.parquet(s"$postRoot/cells").count()

        def flag(bad: Boolean, a: Long, b: Long, why: String) =
          if (!bad) s.emptyDataset[(Long, Long, String)]
            .toDF("id_a", "id_b", "reason")
          else Seq((a, b, why)).toDF("id_a", "id_b", "reason")
        val violations = Seq(
          flag(tsFiles > 17, tsFiles.toLong, 17L, "tombstone_files_unbounded"),
          flag(!fired.compacted || fired.rebuilt,
            if (fired.compacted) 1L else 0L, if (fired.rebuilt) 1L else 0L,
            "pressure_did_not_compact"),
          flag(IndexFs.exists(s"$postRoot/tombstones"), -2L, -2L,
            "tombstones_not_cleared"),
          flag(live != n - nDel, live, n - nDel, "live_rows_mismatch"),
          flag(second.compacted || second.rebuilt, -4L, -4L,
            "second_maintain_not_noop"))
        val answersChanged = pre.exceptAll(post).unionAll(post.exceptAll(pre))
          .select($"query_id".as("id_a"), $"neighbor_id".as("id_b"),
            lit("answers_changed").as("reason"))
        val sentinel = Seq((-1L, -1L, "sentinel")).toDF("id_a", "id_b", "reason")
        violations.reduce(_ unionAll _)
          .unionAll(surfaced).unionAll(answersChanged).unionAll(sentinel)
          .orderBy($"id_a", $"id_b", $"reason")
      },
      Some(AnnGates.oracle),
      doc = "Tombstone-pressure policy gate (AnnMaintenance.maintain's " +
        "third sensor + the appendTombstones file fold): 18 takedown " +
        "batches leave a bounded tombstone file count, deleted ids never " +
        "surface pre-resolve, pressure past maxTombstoneFraction fires a " +
        "COMPACT (physical resolve, no retrain) whose answers are " +
        "row-identical, the table clears, and the next maintain is a " +
        "no-op; violations + sentinel, constant oracle.",
      gate = true
    ),
    // --------------------------------------------------------------- t135
    GraftQuery(
      "t135_hybrid_rrf",
      (s, d) => {
        import s.implicits._
        // hybrid retrieval: BM25 top-50 (lexical) + cosine-vs-query-vector
        // top-50 (dense) fused by reciprocal-rank fusion. Candidate pools
        // come from the distributed retrieval operators; the fusion ranks
        // the ≤100-row fused pool. The ORACLE recomputes both rankings
        // (the t50 bit-exact BM25 formula; list_dot_product on DOUBLE[] —
        // measured bitwise-identical to Spark's sequential double cosine
        // fold) and the same fixed-order RRF sum, so every column
        // value-hashes cross-engine, ranks AND doubles.
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val poolK = 50
        val lexW = org.apache.spark.sql.expressions.Window
          .orderBy($"score".desc, $"id")
        val lex = graft.operators.TextSearch.bm25TopK(docs, $"doc_id",
            $"text", terms = Seq("spark", "merge", "window"), k = poolK)
          .select($"id",
            row_number().over(lexW).cast("bigint").as("rank"))
        val qv = emb.where($"vec_id" === 0).select($"embedding".as("qv"))
        val denseW = org.apache.spark.sql.expressions.Window
          .orderBy($"sim".desc, $"id")
        // pool selection is orderBy + limit — a distributed TakeOrdered
        // heap, NEVER a global window over the corpus (that single
        // partition is the scale-killer the plan audits ban); the window
        // then ranks the 50-row pool only
        val dense = emb.crossJoin(broadcast(qv))
          .select($"vec_id".as("id"),
            Similarity.cosine($"embedding", $"qv").as("sim"))
          .orderBy($"sim".desc, $"id").limit(poolK)
          .withColumn("rank", row_number().over(denseW).cast("bigint"))
          .select($"id", $"rank")
        graft.operators.TextSearch.rrfFuse(Seq(lex, dense), k = 20)
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
             |  FROM scored ORDER BY score DESC, doc_id LIMIT 50),
             |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
             |sims AS (SELECT e.vec_id AS doc_id,
             |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
             |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             |         * sqrt(list_dot_product(q.qv, q.qv))) AS sim
             |  FROM embeddings e CROSS JOIN q),
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
      doc = "Hybrid retrieval via reciprocal-rank fusion (TextSearch." +
        "rrfFuse — Cormack et al., SIGIR 2009): BM25 lexical top-50 and " +
        "dense cosine top-50 fused by 1/(60+rank) with a fixed-order " +
        "sum; rank-based so the incomparable score scales need no " +
        "calibration. Oracle recomputes both rankings and the fusion " +
        "bit-exactly (DOUBLE[] dot products measured bitwise-identical " +
        "to Spark's sequential double fold)."
    ),
    // --------------------------------------------------------------- t136
    GraftQuery(
      "t136_deflate_signal",
      (s, d) => {
        import s.implicits._
        // the DEFLATE-compressibility quality signal (graft_deflate_ratio
        // — the Gopher/RefinedWeb boilerplate proxy: templated spam
        // compresses FAR better than prose, random junk barely at all)
        // as a gate over its defining invariants, since no SQL engine can
        // re-derive zlib output: (1) every nonempty doc's ratio sits in
        // (0, 1.1] and real prose (n_chars >= 200) strictly below 1;
        // (2) self-concatenation strictly IMPROVES compressibility on
        // >= 200-char docs (the back-reference window sees the repeat);
        // (3) a degenerate 60x-repeated-prefix construction compresses
        // below 0.35 — the separation the boilerplate filter relies on;
        // (4) the signal is a pure function of the text: values agree
        // row-for-row across repartition(7) vs coalesce(1).
        val fn = graft.expressions.GraftFunctions
        val docs = Tables.documents(s, d).select($"doc_id", $"text", $"n_chars")
        val scored = docs.select($"doc_id", $"n_chars",
          fn.deflateRatio($"text").as("ratio"),
          fn.deflateRatio(concat($"text", lit(" "), $"text")).as("ratio2"),
          fn.deflateRatio(concat_ws(" ",
            array_repeat(substring($"text", 1, 9), 60))).as("ratio_rep"))
          .localCheckpoint()
        val vBand = scored.where($"ratio" <= 0.0 || $"ratio" > 1.1 ||
            ($"n_chars" >= 200 && $"ratio" >= 1.0))
          .select($"doc_id".as("id_a"), lit(-1L).as("id_b"),
            lit("ratio_out_of_band").as("reason"))
        val vDouble = scored.where($"n_chars" >= 200 && $"ratio2" >= $"ratio")
          .select($"doc_id".as("id_a"), lit(-2L).as("id_b"),
            lit("self_concat_not_more_compressible").as("reason"))
        val vRep = scored.where($"ratio_rep" >= 0.35)
          .select($"doc_id".as("id_a"), lit(-3L).as("id_b"),
            lit("degenerate_repeat_not_separated").as("reason"))
        val again = docs.repartition(7).select($"doc_id",
          fn.deflateRatio($"text").as("ratio"))
        val one = scored.coalesce(1).select($"doc_id", $"ratio")
        val vDet = again.exceptAll(one).unionAll(one.exceptAll(again))
          .select($"doc_id".as("id_a"), lit(-4L).as("id_b"),
            lit("not_partition_invariant").as("reason"))
        val sentinel = Seq((-1L, -1L, "sentinel")).toDF("id_a", "id_b", "reason")
        vBand.unionAll(vDouble).unionAll(vRep).unionAll(vDet)
          .unionAll(sentinel)
          .orderBy($"id_a", $"id_b", $"reason")
      },
      Some(AnnGates.oracle),
      doc = "Compressibility quality signal gate (graft_deflate_ratio — " +
        "a codegen'd native expression over raw DEFLATE): ratios in " +
        "band, self-concatenation strictly more compressible, a " +
        "degenerate repeat construction separates below 0.35 (the " +
        "boilerplate-filter margin), and the signal is partition-" +
        "invariant; violations + sentinel, constant oracle.",
      gate = true
    )
  )
}
