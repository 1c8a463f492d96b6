package graft.pipeline

import graft.enrich.{EnrichConfig, EnrichOperator, LlmTransport}
import graft.operators.{IncrementalDedup, ParagraphDedup, Profiler, QualityRules, Robots, Splits, TextAnalysis, TextPipeline, WebOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}

import scala.concurrent.duration.Duration

/** The staged crawl-curation composition — the engine's analog of the
  * reference orchestrator's sequenced 1→2→3 pipeline run
  * (`setup_project.py:978-1031`: run each stage, checkpoint to the
  * filesystem, later stages consume earlier stages' artifacts):
  *
  *   WARC → HTTP body text → robots admission → canonical-URL dedup →
  *   content extraction (line density, paragraph-preserving) →
  *   Gopher quality rules → cross-doc paragraph dedup → leakage-safe
  *   splits → sequence packing
  *
  * Every stage writes a parquet checkpoint under `workDir` and the next
  * stage reads it back, so any stage can be re-run or inspected in
  * isolation and a failure loses only one stage of work — the property
  * that matters when stage 1 is a 100 TB WARC scan. Each stage is one of
  * the engine's oracle-gated operators; this object adds only sequencing.
  *
  * The robots rule table is taken from the SAME crawl (responses whose URL
  * path is exactly /robots.txt), which is how a real crawler materializes
  * admission policy: fetch policy artifacts first, then gate content by
  * them. Hosts without a robots.txt admit everything (RFC 9309 default).
  */
object CrawlPipeline {

  /** Per-stage accounting: row count and wall seconds for the stage's
    * checkpoint write + count (-1 for the derived sub-counts like
    * `10_enrich_ok`) — at 100 TB the per-stage timing is the first thing
    * an operator asks for when a run slows. Each count is summed from the
    * parquet footers of the stage's checkpoint on the driver — the count a
    * Spark read of it returns, at no Spark job. A daemon-mode 07b whose
    * upsert was deferred (writer lease contended) reports rows = -1.
    * Stage 07b runs beside stages 08 onward, so their seconds may overlap.
    */
  final case class StageCount(stage: String, rows: Long, seconds: Double = -1.0)

  /** Optional `10_enrich` stage config: the distributed LLM-map operator
    * (E1–E7) runs over the curated corpus with this transport + prompt —
    * the reference's Program 1→2→3 chain (`setup_project.py:978-1031`)
    * as one sequenced command. The transport is a FACTORY because it is
    * instantiated per partition on executors (pooled-session analog).
    */
  final case class EnrichStage(transportFactory: () => LlmTransport,
      promptTemplate: String, config: EnrichConfig = EnrichConfig())

  /** Optional dataset-assembly config for the post-split mixing stages
    * (`08b_lang` → `08c_mix` → `08d_order`): `budgets` is the training
    * recipe, language → token budget — exhaustive by definition, so
    * documents tagged with a language absent from the recipe are DROPPED
    * ([[graft.operators.Sampling.exactTokenBudgets]]'s contract); `epoch`
    * varies the deterministic training order between passes. With
    * `repeat = true`, budgets ABOVE a language's supply are honored by
    * repetition ([[graft.operators.Sampling.repeatToBudget]] — k full
    * epochs + an exact remainder prefix, the data-constrained regime)
    * instead of silently capping at the supply; each copy carries its
    * `epoch` and the composite (doc_id, epoch) key is the unit of
    * identity through ordering and packing, so copies occupy distinct,
    * differently-shuffled positions.
    */
  final case class MixStage(budgets: Seq[(String, Long)], epoch: Int = 0,
      repeat: Boolean = false)

  def run(spark: SparkSession, warcGlob: String, workDir: String,
      agent: String = "graftbot", capacity: Long = 2048L,
      maxPayloadBytes: Int = 8 * 1024 * 1024,
      indexDir: Option[String] = None,
      enrichStage: Option[EnrichStage] = None,
      // set by [[runStream]]'s foreachBatch: switches the admission indexes
      // from swap-on-update to the replay-idempotent `batch=<id>` DELTA
      // layout ([[graft.streaming.StreamingOps.admitNearDupStream]]'s
      // discipline — own delta excluded on read, overwritten on write)
      snapshotId: Option[Long] = None,
      // Gopher rule thresholds for the 06_quality stage — the published
      // English-centric defaults are a starting point every real corpus
      // tunes (e.g. relax minStopHits for non-English or synthetic slices)
      qualityThresholds: QualityRules.Thresholds = QualityRules.Thresholds(),
      // optional dataset-assembly stages between 08_splits and 09_pack
      // (language tag → exact token-budget mix → training order) — see
      // [[MixStage]]; the curated corpus then packs to the RECIPE, not to
      // whatever language mix the crawl happened to fetch
      mixStage: Option[MixStage] = None,
      // optional trained tokenizer ([[graft.operators.Bpe.BpeModel]]):
      // sizes the mix budgets AND the packing bins in real BPE tokens
      // instead of whitespace tokens — whitespace counts are wrong by the
      // whitespace↔BPE ratio, which varies by language and script
      packTokenizer: Option[graft.operators.Bpe.BpeModel] = None,
      // optional final stage 09b: materialize the curated (and mixed)
      // corpus as `nShards` deterministic training-shard dirs
      // ([[graft.operators.TrainingOrder.writeShards]]) — the files a data
      // loader consumes; epoch comes from the mix config when present
      shards: Option[Int] = None,
      // optional stage 07b: keep a persisted LEXICAL (BM25) retrieval
      // index ([[graft.operators.LexIndex]]) in lockstep with the curated
      // corpus — batch mode REBUILDS it behind a staged swap (one run =
      // one generation, like the admission indexes); daemon mode appends
      // the snapshot's curated docs as a replay-idempotent `batch=<id>`
      // delta, with tombstoned ids DEFERRED (see the stage comment). It
      // runs beside stages 08 onward: both read only the 07 checkpoint
      lexDir: Option[String] = None): Seq[StageCount] = {
    val counts = scala.collection.mutable.ArrayBuffer.empty[StageCount]
    def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    // a stage that filtered everything away writes no part files (AQE
    // collapses empty plans to zero partitions): zero rows
    def rowsOf(dir: String): Long = graft.operators.IndexFs.parquetRowsUnder(dir)
    def ck(stage: String, df: DataFrame, parts: Seq[String] = Nil): DataFrame = {
      val t0 = System.nanoTime()
      val w = df.write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
        .parquet(s"$workDir/$stage")
      counts += StageCount(stage, rowsOf(s"$workDir/$stage"), seconds(t0))
      // explicit schema: with no part files, schema inference would fail —
      // an empty crawl slice must flow through as zero rows, not kill the run
      spark.read.schema(df.schema).parquet(s"$workDir/$stage")
    }

    val warc = ck("01_warc",
      graft.sources.WarcSource.readWarc(spark, warcGlob, maxPayloadBytes))
    val pages = ck("02_pages", warc
      .where(col("warc_type") === "response" && !col("truncated"))
      .select(col("target_uri").as("url"),
        WebOps.httpBodyText(col("payload")).as("text"))
      .where(length(col("text")) > 0))

    // robots admission: policy bodies come from the crawl itself — and,
    // when a cross-snapshot index dir is given, from every PREVIOUS crawl
    // too: a snapshot that does not refetch a host's robots.txt must still
    // honor the host's standing policy (real crawlers cache robots far
    // longer than one fetch round). The current crawl's fetch wins per host
    // (that IS the policy refresh); persisted bodies fill in the rest.
    val isRobotsUrl = col("url").rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^/]*/robots\\.txt$")
    val crawlBodies = pages.where(isRobotsUrl)
      .select(WebOps.host(col("url")).as("host"), col("text"))
    val policyBodies = indexDir match {
      case None => crawlBodies
      case Some(ix) =>
        // Batch-mode index updates commit ATOMICALLY (round-12 verdict #2 /
        // ADVICE): each new generation of ALL THREE indexes is staged under
        // `$ix.next/{robots,fp,sig}` while the live dirs stay untouched,
        // then ONE `replaceDir($ix, $ix.next)` after stage 04b swaps the
        // whole generation in. The r12 layout swapped the three dirs at
        // three separate points (robots at stage 03, fp/sig at 04b): a
        // crash between the fp and sig swaps made the NEXT run's exact
        // admission reject the crashed run's docs (already in fp) so their
        // signatures never reached the sig index — a permanent near-dup
        // blind spot. Now a crash before the commit point leaves every
        // index at the old snapshot (the rerun clears the stale staging
        // and rebuilds it deterministically), and a crash inside the swap
        // itself is healed by recoverDir's roll-back.
        // recovery runs in EVERY mode: a batch-mode crash between the
        // swap's renames leaves no live parent, and a daemon starting in
        // delta mode right after would otherwise read "empty index" and
        // re-admit the entire corpus; staging cleanup is batch-only (delta
        // mode never stages)
        IncrementalDedup.recoverDir(ix)
        if (snapshotId.isEmpty) IncrementalDedup.clearStaging(s"$ix.next")
        // resolve the index family's live generation (the batch-mode
        // commit below advances it; daemon-mode compacts advance the
        // per-subdir generations) — every read and delta write this
        // snapshot does is pinned to the generations resolved here
        val ixRoot = IncrementalDedup.readRoot(ix)
        val rDir = IncrementalDedup.readRoot(s"$ixRoot/robots")
        val rSchema = new StructType().add("host", StringType).add("text", StringType)
        def rEmpty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rSchema)
        val prev0 =
          if (!graft.operators.IndexFs.exists(rDir)) rEmpty
          else
            try spark.read.parquet(rDir)
            catch {
              // robots-less snapshots write zero-row deltas: no footers to
              // infer from is an empty policy table, not corruption
              case ae: org.apache.spark.sql.AnalysisException
                  if ae.getCondition == "UNABLE_TO_INFER_SCHEMA" => rEmpty
            }
        // delta mode: drop this batch's own delta (replay guard), then the
        // LATEST persisted body per host stands; the swap layout is already
        // one row per host
        val prev1 = snapshotId match {
          case Some(bid) if prev0.columns.contains("batch") =>
            prev0.where(col("batch") =!= bid)
          case _ => prev0
        }
        val prev =
          if (prev1.columns.contains("batch"))
            prev1.groupBy(col("host")).agg(max_by(col("text"), col("batch")).as("text"))
          else prev1.select(col("host"), col("text"))
        // one deterministic body per host within the crawl (a WARC can carry
        // the same robots URL twice)
        val crawlDedup = crawlBodies.groupBy(col("host")).agg(min(col("text")).as("text"))
        val merged = crawlDedup.unionByName(
          prev.join(crawlDedup.select(col("host")), Seq("host"), "left_anti"))
        snapshotId match {
          case Some(bid) =>
            // replay-idempotent delta: persist ONLY this crawl's fetches;
            // history selection happens at read time (latest batch wins)
            crawlDedup.write.mode("overwrite").parquet(s"$rDir/batch=$bid")
            merged
          case None =>
            // staged, not swapped: the live robots dir keeps serving until
            // the single commit point after stage 04b. Written UNDER
            // `batch=-1` so every index layout is uniformly
            // partition-style: a daemon later appending `batch=<id>`
            // deltas to a batch-built index would otherwise make
            // partition discovery silently IGNORE the root-level files —
            // the entire batch-built corpus index would vanish from
            // admission (the same hazard compactDeltaIndex documents).
            merged.write.mode("overwrite").parquet(s"$ix.next/robots/batch=-1")
            spark.read.schema(rSchema).parquet(s"$ix.next/robots/batch=-1")
        }
    }
    val ruleTable = Robots.parseRules(
        policyBodies.select(col("host").as("rid"), col("text")),
        col("rid"), col("text"))
      .withColumnRenamed("id", "host")
    val admitted = ck("03_admitted",
      Robots.isAllowed(pages.where(!isRobotsUrl), col("url"), agent, ruleTable)
        .where(col("allowed")).drop("allowed", "__host", "__path"))

    // canonical-URL dedup: deterministic id from the url byte string
    val deduped = ck("04_url_dedup",
      WebOps.dedupByCanonicalUrl(
          admitted.withColumn("doc_id", xxhash64(col("url"))),
          col("url"), col("doc_id"))
        .where(col("url_survivor")).drop("url_survivor", "canonical_url"))

    // cross-SNAPSHOT admission (optional): dedup this crawl against the
    // persisted fingerprint + MinHash-signature indexes of everything
    // already admitted by PREVIOUS runs, then fold the survivors back into
    // both indexes — the reference's skip-already-processed incrementality
    // (`src/program2_ai_processor.py:692-724`) lifted from file names to
    // content granularity at corpus scale. Without this, a second crawl of
    // the same sites re-admits everything downstream. Exact admission is a
    // LEFT ANTI join on 16-byte hashes; near-dup admission is LSH-banded
    // against signatures only (history work is O(batch collisions), never
    // O(corpus)). Index updates go through write-then-swap ([[IncrementalDedup.replaceDir]]):
    // a killed run never truncates the live index.
    val fresh = indexDir match {
      case None => deduped
      case Some(ix) =>
        val ixRoot2 = IncrementalDedup.readRoot(ix)
        val fpDir = IncrementalDedup.readRoot(s"$ixRoot2/fp")
        val sigDir = IncrementalDedup.readRoot(s"$ixRoot2/sig")
        // In delta mode (snapshotId set) the batch's OWN `batch=<id>` delta
        // is excluded on read: a replayed micro-batch would otherwise
        // self-match every previously admitted page against its persisted
        // fingerprint/signature, reject the whole batch, and overwrite the
        // admitted output and deltas with empty frames — permanent loss.
        // `key`: the index family's tombstone key ("fp" / "id") — deleted
        // entries ([[IncrementalDedup.deleteFingerprints]]) are dropped
        // from the read, so admission treats them as GONE and a re-crawled
        // page re-admits (its delta write below then clears the tombstone)
        def readOrEmpty(dir: String, schema: StructType,
            key: String): DataFrame = {
          def empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          val base =
            if (!graft.operators.IndexFs.exists(dir)) empty
            else
              try spark.read.parquet(dir)
              catch {
                // a dir whose deltas hold zero rows has no parquet footers
                // to infer from (a snapshot that admitted NOTHING still
                // writes its batch=<id> delta) — that is an empty index,
                // not corruption; every OTHER read failure still propagates
                case ae: org.apache.spark.sql.AnalysisException
                    if ae.getCondition == "UNABLE_TO_INFER_SCHEMA" => empty
              }
          // dir is already generation-resolved by the caller
          val scoped = snapshotId match {
            case Some(bid) if base.columns.contains("batch") =>
              base.where(col("batch") =!= bid)
            case _ => base
          }
          // version floors (upsertAdmission's re-crawl hygiene) apply
          // while the batch column is still in scope: superseded sig
          // rows of changed pages never participate in admission
          val floored =
            if (scoped.columns.contains("batch"))
              IncrementalDedup.applyVersionFloors(spark,
                s"${IncrementalDedup.readRoot(dir)}/_floors", scoped, key)
            else scoped
          IncrementalDedup.liveIndex(spark, dir,
            floored.select(schema.fieldNames.map(col): _*), key)
        }
        val fpIndex = readOrEmpty(fpDir,
          new StructType().add("fp", StringType), "fp")
        val sigIndex = readOrEmpty(sigDir, new StructType()
          .add("id", LongType).add("sig", ArrayType(LongType)), "id")
        val exact = IncrementalDedup.admit(
          deduped, fpIndex, TextAnalysis.fingerprint(col("text")), col("doc_id"))
        // checkpointed (parquet write + read-back) BEFORE the index updates:
        // both updates consume the admitted rows, and their lineage reads
        // the LIVE index dirs, which the writes below modify
        val admitted = ck("04b_admit",
          IncrementalDedup.admitNearDup(exact, sigIndex, "doc_id", "text"))
        snapshotId match {
          case Some(bid) =>
            // replay-idempotent delta layout: overwrite THIS batch's deltas
            // only; history and concurrent batches are untouched, and a
            // replay rewrites the same files instead of duplicating them
            admitted.select(col("fp")).distinct()
              .write.mode("overwrite").parquet(s"$fpDir/batch=$bid")
            admitted.select(col("id"), col("sig"))
              .write.mode("overwrite").parquet(s"$sigDir/batch=$bid")
            // re-admitted keys become live again: clear their tombstones
            // AFTER the deltas landed (a crash between leaves them hidden;
            // the replay heals). Batch mode needs no clear — its whole-dir
            // swap rebuilds the index from the live view.
            //
            // Contention posture: readmitKeys runs under the index writer
            // lease, so an operator's `takedown` mid-batch makes it fail
            // LOUDLY — retry briefly, then DEFER rather than kill the
            // daemon: a deferred clear is safe (the keys stay hidden —
            // deletion semantics intact — and the page's NEXT crawl
            // re-admits and re-attempts the clear; duplicate delta rows
            // dedup at compaction), while a daemon death on a transient
            // takedown is not.
            def clearWithRetry(dir: String, keys: org.apache.spark.sql.DataFrame,
                keyCol: String): Unit = {
              var attempt = 0
              var done = false
              while (!done) {
                try { IncrementalDedup.readmitKeys(spark, dir, keys, keyCol); done = true }
                catch {
                  case e: IllegalStateException if attempt < 3 =>
                    attempt += 1; Thread.sleep(200L * attempt)
                  case e: IllegalStateException =>
                    org.slf4j.LoggerFactory.getLogger(getClass).warn(
                      s"deferring tombstone clear on $dir (writer lease " +
                        s"contended): ${e.getMessage}")
                    done = true
                }
              }
            }
            clearWithRetry(fpDir, admitted.select(col("fp")), "fp")
            clearWithRetry(sigDir, admitted.select(col("id")), "id")
            // re-crawl hygiene (the admission UPSERT): a CHANGED page's
            // previous fingerprint is tombstoned and its previous sig
            // rows are floored, so admission state stays current-content
            // scale and a REVERT re-admits like any other change. Same
            // defer posture as the clears: one deferred snapshot of
            // hygiene is recoverable (the replay or the page's next
            // crawl heals), a dead daemon is not.
            try {
              IncrementalDedup.upsertAdmission(spark, fpDir, sigDir,
                admitted.select(col("id"), col("fp")), bid)
            } catch {
              case e: IllegalStateException =>
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"deferring admission upsert hygiene (writer lease " +
                    s"contended): ${e.getMessage}")
            }
          case None =>
            // batch mode: full-index rewrites staged beside the robots
            // generation, then the SINGLE commit point — one swap advances
            // robots+fp+sig together, so "one snapshot = one index
            // generation" holds across any crash (see the staging comment
            // at stage 03). Until the swap, every live dir still serves
            // the previous snapshot; both updates below read the LIVE
            // index lineage, which stays intact while staging is written.
            // full rewrites land under `batch=-1` (uniform partition-style
            // layout — see the robots staging comment: root-level files
            // would be invisible once a daemon appends its first delta)
            // the two writes are independent and run side by side, with no
            // time limit (each grows with the index)
            graft.core.Par.both(
              IncrementalDedup.updatedIndex(fpIndex, admitted)
                .write.mode("overwrite").parquet(s"$ix.next/fp/batch=-1"),
              IncrementalDedup.updatedSigIndex(sigIndex,
                  admitted.select(col("id"), col("sig")))
                .write.mode("overwrite").parquet(s"$ix.next/sig/batch=-1"),
              Duration.Inf)
            // one generation commit advances robots+fp+sig together, and
            // a reader pinned to the previous snapshot's generations
            // survives it (commitGeneration's one-generation grace)
            IncrementalDedup.commitGeneration(ix, s"$ix.next")
        }
        admitted.drop("id", "sig", "fp")
    }

    // within-page content extraction in keepBlank mode: nav/separator/
    // footer chrome dies on line shape alone, while blank-line paragraph
    // separators survive (collapsed to one) — the paragraph-level dedup
    // below splits on them, so the default mode would silently merge
    // adjacent paragraphs here. The 50% density floor counts UNICODE
    // letters/digits, so non-Latin pages (CJK/Cyrillic/Arabic prose has
    // ~0% ASCII alphanumerics) flow through intact rather than being
    // deleted wholesale
    val content = ck("05_content",
      TextPipeline.extractContent(fresh, col("doc_id"), col("text"),
          minLineChars = 30, minAlnumPct = 50, keepBlank = true)
        .join(fresh.select(col("doc_id").as("id"), col("url")), Seq("id"))
        .select(col("id").as("doc_id"), col("url"), col("content").as("text")))

    val quality = ck("06_quality",
      content.where(QualityRules.keep(col("text"), qualityThresholds)))

    // cross-doc paragraph dedup, then re-attach the url for downstream
    // split assignment (dedupParagraphs returns id/text_dedup/counters)
    val para = ck("07_para_dedup",
      ParagraphDedup.dedupParagraphs(quality, col("doc_id"), col("text"))
        .join(quality.select(col("doc_id").as("id"), col("url")), Seq("id"))
        .select(col("id").as("doc_id"), col("url"),
          col("text_dedup").as("text"), col("n_paras"), col("n_kept")))

    // 07b (optional): the retrieval index tracks the curated corpus —
    // full-text search over what the pipeline actually kept, fresh every
    // snapshot. Batch mode rebuilds behind the staged swap (a one-shot
    // run IS a corpus build). Daemon mode UPSERTS this snapshot's docs as
    // a replay-idempotent delta (own batch id — a replay overwrites its
    // own files and its version-floor ledger entries absorb by
    // latest-wins): a re-crawled CHANGED page replaces its old version
    // NOW instead of double-counting under the same doc_id (the append
    // path's latent hazard — doc_id is the url hash, so changed content
    // re-admits through the fp index with the SAME lexical id), and a
    // previously taken-down page resurrects on re-crawl (the fp index's
    // own re-admission contract, now mirrored lexically — no more
    // defer-until-compact). Lease contention still defers the whole
    // write (the readmitKeys posture): missing-from-retrieval-for-one-
    // snapshot is recoverable, a dead daemon is not. Lexical COMPACTION
    // runs either as an operator action (lex-maintain, daemon stopped)
    // or on the daemon's own --compact-every cadence, which PRESERVES
    // the current batch's delta verbatim (LexIndex.compact
    // preserveBatchIds — the compactDeltaIndex replay guard).
    def lexStage(lex: String): StageCount = {
      val t0 = System.nanoTime()
      val docsForLex = para.select(col("doc_id"), col("text"))
      var lexRows = -1L
      snapshotId match {
        case Some(bid) =>
          if (!graft.operators.IndexFs.exists(
              s"${IncrementalDedup.readRoot(lex)}/meta"))
            graft.operators.LexIndex.build(
              docsForLex.limit(0), "doc_id", "text", lex)
          var attempt = 0
          var done = false
          while (!done) {
            try {
              lexRows = graft.operators.LexIndex.upsert(spark, lex,
                docsForLex, "doc_id", "text", batchId = Some(bid))
              done = true
            } catch {
              case _: IllegalStateException if attempt < 3 =>
                attempt += 1; Thread.sleep(200L * attempt)
              case e: IllegalStateException =>
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"deferring lexical index upsert on $lex (writer lease " +
                    s"contended): ${e.getMessage}")
                done = true
            }
          }
        case None =>
          graft.operators.LexIndex.rebuild(docsForLex, "doc_id", "text", lex)
          lexRows = rowsOf(s"${IncrementalDedup.readRoot(lex)}/doclens")
      }
      StageCount("07b_lex_index", lexRows, seconds(t0))
    }

    // 08_splits through 09b_shards, which read only the 07 checkpoint too
    def splitsToShards(): Unit = {
      // leakage-safe splits: whole HOSTS land in one split, written
      // partitioned so readers partition-prune on split=
      val split = ck("08_splits", para
        .withColumn("host", WebOps.host(col("url")))
        .withColumn("split", Splits.assign(col("host"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),
        parts = Seq("split"))

      // corpus drift monitoring (daemon mode): the distribution-SHAPE check
      // of this snapshot's curated corpus against everything previous
      // snapshots curated — the corpus-side analog of the ANN tier's
      // quantizer-drift diagnostic (ivfAppend's ratio): admission stays
      // correct under a shifted crawl frontier, but the MIX the corpus feeds
      // downstream silently changes, and this is the number that says so.
      // The snapshot's (dim, value) profile is compared against the SUM of
      // all previous batches' persisted profiles, then appended as its own
      // replay-idempotent `batch=<id>` delta beside the admission indexes
      // (own delta excluded on read, overwritten on replay — the standard
      // discipline). Deltas are category-scale rows (hundreds per snapshot),
      // so there is no compaction pressure; the first snapshot has no
      // baseline and reports null tv (driftFromCounts' empty-side guard).
      // Batch mode runs drift-free: two standalone corpora compare directly
      // via Profiler.distributionDrift.
      for (ix <- indexDir; bid <- snapshotId) {
        val t0 = System.nanoTime()
        val dims = Seq(
          "lang" -> TextAnalysis.langId(col("text")),
          "len" -> Profiler.log2Bucket(length(col("text"))))
        // checkpoint: the category matrix is tiny and feeds both the report
        // and the persisted delta — recomputing would re-scan the corpus
        val cur = Profiler.dimCounts(split, dims).localCheckpoint()
        val pDir = s"$ix/profile"
        val pSchema = new StructType().add("dim", StringType)
          .add("value", StringType).add("n", LongType)
        def pEmpty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pSchema)
        val prev0 =
          if (!graft.operators.IndexFs.exists(pDir)) pEmpty
          else
            try spark.read.parquet(pDir)
            catch {
              case ae: org.apache.spark.sql.AnalysisException
                  if ae.getCondition == "UNABLE_TO_INFER_SCHEMA" => pEmpty
            }
        val prev = (if (prev0.columns.contains("batch"))
            prev0.where(col("batch") =!= bid)
          else prev0)
          .groupBy(col("dim"), col("value")).agg(sum(col("n")).as("n"))
        Profiler.driftFromCounts(prev, cur).coalesce(1)
          .write.mode("overwrite").parquet(s"$workDir/08a_drift")
        cur.write.mode("overwrite").parquet(s"$pDir/batch=$bid")
        counts += StageCount("08a_drift", rowsOf(s"$workDir/08a_drift"), seconds(t0))
      }

      // the token weight both the mix budgets and the packing bins are sized
      // in: whitespace tokens by default, the trained tokenizer's REAL BPE
      // count when a model is given — one definition for both stages, or a
      // recipe admitted in one unit would be packed in another
      def tokWeight(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        packTokenizer.fold(TextAnalysis.tokenCount(c))(m =>
          graft.operators.Bpe.tokenCount(c, m))

      // optional mixing stages (each one an oracle-gated operator, reused
      // unchanged): 08b tags the language (t05 semantics), 08c admits per
      // language the maximal md5-ordered document prefix under the recipe's
      // token budget (t108 semantics — exactly determined, reproducible
      // row-for-row), 08d writes the deterministic round-robin training-order
      // manifest (t82 semantics; packing keeps its own md5 shuffle order, so
      // the manifest is a sibling checkpoint consumers join back by doc_id)
      val (packInput, orderedOpt, packKey) = mixStage match {
        case None => (split, None, col("doc_id"))
        case Some(m) =>
          val lang = ck("08b_lang",
            split.withColumn("lang", TextAnalysis.langId(col("text"))))
          // with repeat, a budget above a language's supply is honored by
          // k full epochs + an exact remainder prefix (t124 semantics) and
          // a document legitimately appears once per epoch — the composite
          // (doc_id, epoch) key becomes the unit of identity downstream:
          // it keeps ordering keys unique AND salts each copy's shuffle
          // position differently (same-doc copies do not travel together)
          val mixed = ck("08c_mix",
            if (m.repeat) graft.operators.Sampling.repeatToBudget(
              lang, col("lang"), col("doc_id"), tokWeight(col("text")), m.budgets)
            else graft.operators.Sampling.exactTokenBudgets(
              lang, col("lang"), col("doc_id"), tokWeight(col("text")), m.budgets))
          val mixKey =
            if (m.repeat) concat_ws(":", col("doc_id"), col("epoch"))
            else col("doc_id")
          val ordered = ck("08d_order", graft.operators.TrainingOrder.interleave(
            mixed, col("lang"), mixKey, m.budgets.map(_._1), m.epoch))
          (mixed, Some(ordered), mixKey)
      }

      ck("09_pack", TextPipeline.packSequences(
        packInput.withColumn("n_tokens", tokWeight(col("text"))),
        packKey, col("n_tokens"), capacity))

      // 09b (optional): shard files of the same corpus 09_pack packed —
      // the shard writers own their write discipline (partitioned, sorted
      // within files), so this does not go through ck(). With a mix config
      // the shards replay the 08d MIXTURE order (a loader streaming them in
      // (shard, file, row) order reads the round-robin interleave, not the
      // raw md5 shuffle — sharding by id would undo the order 08d built);
      // without one they replay the epoch's md5 shuffle order.
      shards.foreach { n =>
        val t0 = System.nanoTime()
        orderedOpt match {
          case Some(ordered) => graft.operators.TrainingOrder.writeMixtureShards(
            ordered, col("global_pos"), s"$workDir/09b_shards", n)
          case None => graft.operators.TrainingOrder.writeShards(
            packInput, col("doc_id"), s"$workDir/09b_shards", n,
            epoch = mixStage.map(_.epoch).getOrElse(0))
        }
        // the shard set is a RELEASE: seal it with the integrity manifest
        // (bytes + footer rows + streaming md5 per part file, stored as
        // _manifest beside the data — hidden from discovery, so replays and
        // loaders read the same dataset with or without it); a loader runs
        // `manifest-verify` before training instead of failing at step 40k
        graft.sinks.DatasetManifest.write(spark, s"$workDir/09b_shards")
        counts += StageCount("09b_shards", rowsOf(s"$workDir/09b_shards"), seconds(t0))
      }
    }

    // 07b runs beside 08 onward, with no time limit (both scale with the
    // corpus); its count keeps its place before 08's
    val at = counts.size
    lexDir match {
      case None => splitsToShards()
      case Some(lex) => counts.insert(at,
        graft.core.Par.both(lexStage(lex), splitsToShards(), Duration.Inf)._1)
    }

    // optional LLM enrichment over the curated corpus (the reference's
    // Program 2 run over Program 1's output): the distributed LLM-map
    // operator with its rate/concurrency envelope, written partitioned by
    // the ok flag so the ok/fail routing (E7) is partition-pruned on disk —
    // `10_enrich/ok=true` IS the success sink, `ok=false` the failure sink.
    enrichStage.foreach { e =>
      import spark.implicits._
      val inputs = para.select(col("url").as("key"), col("text").as("content"))
      // Replay idempotence: a replayed daemon micro-batch (or a re-run
      // batch pipeline) must not RE-PAY the LLM call for documents a
      // previous attempt already enriched successfully — the P9 anti-join
      // skip ([[graft.enrich.EnrichJob]]'s discipline, the distributed form
      // of the reference's skip-if-exists,
      // `src/program2_ai_processor.py:692-724`) applied at this stage's own
      // checkpoint: previously-ok rows are CARRIED OVER (for keys still in
      // the current corpus), failed and new docs go to the transport. The
      // localCheckpoint is load-bearing: the carried rows' lineage would
      // otherwise lazily read the very directory ck() overwrites below.
      val eDir = s"$workDir/10_enrich"
      val eSchema = new StructType().add("key", StringType)
        .add("ok", org.apache.spark.sql.types.BooleanType)
        .add("description", StringType).add("raw", StringType)
      val prevOk =
        if (!graft.operators.IndexFs.exists(eDir))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], eSchema)
        else
          // `ok` is a PARTITION column on disk and partition-value type
          // inference does not cover booleans — it reads back as the
          // string "true"/"false" and must be cast explicitly
          try spark.read.parquet(eDir).where(col("ok").cast("boolean"))
            .select(col("key"), col("ok").cast("boolean").as("ok"),
              col("description"), col("raw"))
            .localCheckpoint()
          catch {
            // an empty previous attempt writes no parquet footers
            case ae: org.apache.spark.sql.AnalysisException
                if ae.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], eSchema)
          }
      val carried = prevOk.join(inputs.select(col("key")), Seq("key"), "left_semi")
      val fresh = inputs.join(prevOk.select(col("key")), Seq("key"), "left_anti")
      // the exact-global rate/concurrency envelope (e.config's
      // exactGlobalRpm / exactGlobalConcurrency) is wired through
      // EnrichJob's OWN construction, so the pipeline path and the direct
      // job path enforce the identical driver-hosted leases — the options
      // must never silently degrade to the per-partition approximation here
      val envelope = graft.enrich.EnrichJob.exactEnvelope(spark, e.config)
      try {
        val enriched = EnrichOperator.enrich(fresh.as[EnrichOperator.Doc],
          e.transportFactory, e.promptTemplate, e.config,
          limiterFactory = envelope.limiterFactory,
          slotFactory = envelope.slotFactory)
        ck("10_enrich", enriched.toDF().unionByName(carried), parts = Seq("ok"))
        counts += StageCount("10_enrich_ok", rowsOf(s"$eDir/ok=true"))
        counts += StageCount("10_enrich_fail", rowsOf(s"$eDir/ok=false"))
      } finally envelope.stop()
    }

    counts.toSeq
  }

  /** The continuous-crawl DAEMON: watch `warcDir` for new WARC files and run
    * the full staged curation on each micro-batch of files, admitting
    * against (and growing) the persisted cross-snapshot indexes — [[run]]
    * lifted to Structured Streaming, so "a crawler keeps dropping snapshot
    * files; only novel pages ever reach the curated corpus" is one call.
    *
    * Semantics per micro-batch: the batch IS one crawl snapshot (robots
    * policy from its own fetches, canonical-URL dedup within it), then
    * delta-mode admission against everything previous batches admitted.
    * Replay safety comes from the `batch=<id>` discipline ([[run]]'s
    * snapshotId mode + per-batch work dirs): a replayed batch overwrites
    * exactly its own outputs and index deltas, reads the index WITHOUT its
    * own delta, and therefore re-derives the same admitted set. The
    * checkpointed file-source offsets make each WARC file process exactly
    * once across restarts.
    *
    * Scale shape: only the file LIST crosses the driver (the binaryFile
    * source prunes the content column away before the collect); record
    * parsing streams through [[graft.sources.WarcSource]]'s per-file
    * sequential parser on executors, thousands of files in parallel. The
    * growing `batch=` index deltas are compacted with
    * [[graft.operators.IncrementalDedup.compactSigIndex]] /
    * `compactFpIndex` / `compactRobotsIndex` (CLI `compact-index <dir>
    * <kind>`; stream stopped, per their shared contract).
    */
  def runStream(spark: SparkSession, warcDir: String, workDir: String,
      indexDir: String, agent: String = "graftbot", capacity: Long = 2048L,
      maxPayloadBytes: Int = 8 * 1024 * 1024,
      // optional per-snapshot LLM enrichment. Replay-SAFE for the expensive
      // part: a replayed micro-batch anti-joins its own previous ok-outputs
      // before touching the transport (see the 10_enrich stage), so only
      // failed/unattempted docs re-pay the call
      enrichStage: Option[EnrichStage] = None,
      // auto-compact the fp/sig/robots delta indexes at the START of every
      // n-th batch's foreachBatch — the one point in a streaming job with
      // no concurrent delta writers, which is exactly compactDeltaIndex's
      // contract. The current batch id is PRESERVED as a delta (a crashed
      // earlier attempt may have left one; folding it into batch=-1 would
      // defeat the replay guard and wipe the batch's own outputs).
      compactEvery: Option[Int] = None,
      qualityThresholds: QualityRules.Thresholds = QualityRules.Thresholds(),
      // per-snapshot mixing/packing/sharding config, forwarded to [[run]]
      mixStage: Option[MixStage] = None,
      packTokenizer: Option[graft.operators.Bpe.BpeModel] = None,
      shards: Option[Int] = None,
      // forwarded to [[run]]'s 07b stage: per-snapshot delta appends keep
      // the lexical retrieval index in lockstep with the curated corpus
      lexDir: Option[String] = None,
      onBatch: (Long, Seq[StageCount]) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("binaryFile")
      // the binaryFile schema is FIXED by the format, but the streaming
      // source API still demands it spelled out
      .schema(new StructType()
        .add("path", StringType)
        .add("modificationTime", org.apache.spark.sql.types.TimestampType)
        .add("length", LongType)
        .add("content", org.apache.spark.sql.types.BinaryType))
      .option("pathGlobFilter", "*.warc*")
      .load(warcDir)
      .select(col("path"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$workDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (compactEvery.exists(n => batchId > 0 && batchId % n == 0)) {
          val s = batch.sparkSession
          val keep = Set(batchId)
          def ifPresent(sub: String)(body: String => Unit): Unit = {
            val d = s"${IncrementalDedup.readRoot(indexDir)}/$sub"
            if (graft.operators.IndexFs.exists(d)) body(d)
          }
          ifPresent("fp")(d =>
            IncrementalDedup.compactFpIndex(s, d, preserveBatchIds = keep))
          ifPresent("sig")(d =>
            IncrementalDedup.compactSigIndex(s, d, preserveBatchIds = keep))
          ifPresent("robots")(d =>
            IncrementalDedup.compactRobotsIndex(s, d, preserveBatchIds = keep))
          // the lexical retrieval index folds on the same cadence, with
          // the same replay guard (its preserveBatchIds carries the
          // current batch's delta verbatim)
          lexDir.filter(lx => graft.operators.IndexFs.exists(
              s"${IncrementalDedup.readRoot(lx)}/meta"))
            .foreach(lx =>
              graft.operators.LexIndex.compact(s, lx, preserveBatchIds = keep))
        }
        val paths = batch.select("path").distinct()
          .collect().map(_.getString(0)).sorted
        if (paths.nonEmpty) {
          val counts = run(spark, paths.mkString(","),
            s"$workDir/batch=$batchId", agent, capacity, maxPayloadBytes,
            indexDir = Some(indexDir), enrichStage = enrichStage,
            snapshotId = Some(batchId),
            qualityThresholds = qualityThresholds,
            mixStage = mixStage, packTokenizer = packTokenizer,
            shards = shards, lexDir = lexDir)
          onBatch(batchId, counts)
        }
        ()
      }
      .start()
}
