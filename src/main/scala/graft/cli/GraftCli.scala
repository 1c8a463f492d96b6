package graft.cli

import graft.core.GraftSession
import graft.pipeline.{MarkdownJob, SiteJob}

/** Non-interactive pipeline runner (SURVEY.md §7.1 step 10 — the engine
  * surface of `setup_project.py`'s menu: run stages, sequenced through
  * filesystem checkpoints; the interactive i18n/venv tooling is host
  * environment, not engine capability).
  *
  * Usage:
  *   graft.cli.GraftCli markdown <csv> <template.md> <outDir>
  *   graft.cli.GraftCli site <csv> <aiMarkdownDir> <template.html> <out.html>
  */
object GraftCli {

  /** `--flag value` pairs split from positionals; a trailing value-less
    * flag errors instead of silently becoming a positional.
    */
  private def splitFlags(args: List[String]): (Map[String, String], List[String]) = {
    def go(a: List[String], acc: Map[String, String],
        p: List[String]): (Map[String, String], List[String]) = a match {
      case f :: v :: t if f.startsWith("--") => go(t, acc + (f -> v), p)
      case f :: Nil if f.startsWith("--") => sys.error(s"flag $f needs a value")
      case x :: t => go(t, acc, p :+ x)
      case Nil => (acc, p)
    }
    go(args, Map.empty, Nil)
  }

  /** `--mix-mode exact|repeat` → MixStage.repeat (default exact). */
  private def parseMixMode(flags: Map[String, String]): Boolean =
    flags.get("--mix-mode") match {
      case None | Some("exact") => false
      case Some("repeat") => true
      case Some(other) =>
        sys.error(s"bad --mix-mode '$other', expected exact or repeat")
    }

  /** `en:30000,de:9000` → MixStage recipe. */
  private def parseMix(recipe: String): graft.pipeline.CrawlPipeline.MixStage =
    graft.pipeline.CrawlPipeline.MixStage(recipe.split(",").toSeq.map { kv =>
      kv.split(":", 2) match {
        case Array(g, b) if g.nonEmpty && b.toLongOption.isDefined => g -> b.toLong
        case _ => sys.error(s"bad --mix entry '$kv', expected lang:budget " +
          "(e.g. en:30000,de:9000)")
      }
    })

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      appName = "graft-cli")
    try run(spark, args.toList)
    catch {
      // the process-exit authority lives HERE, not in run(): a bad arg
      // list exits 2 from the CLI but only throws from an embedding host
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        spark.stop()
        sys.exit(2)
    }
    finally spark.stop()
  }

  /** Command dispatch against a caller-owned session — the spec surface
    * (specs drive commands through the shared test session, which `main`'s
    * own stop-in-finally would kill).
    */
  def run(spark: org.apache.spark.sql.SparkSession,
      argList: List[String]): Unit = {
    {
      argList match {
        case "markdown" :: csv :: template :: outDir :: Nil =>
          val r = MarkdownJob.run(spark, csv, template, outDir)
          println(s"markdown: wrote ${r.written} files to $outDir")
        case "site" :: csv :: mdDir :: template :: outHtml :: Nil =>
          val r = SiteJob.run(spark, csv, mdDir, template, outHtml)
          println(s"site: ${r.schools} schools -> ${r.htmlPath}")
        case "enrich" :: inDir :: outMdDir :: outJsonDir :: promptTpl :: rest =>
          // real HTTP when an endpoint is configured in the environment /
          // GRAFT_ENV_FILE (.env), deterministic mock otherwise; resolved
          // driver-side, shipped into the executor closure
          val transport = graft.enrich.LlmTransports.fromEnvironment(
            sys.env.get("GRAFT_ENV_FILE").map(java.nio.file.Paths.get(_)))
          val s = graft.enrich.EnrichJob.run(spark, inDir, outMdDir, outJsonDir,
            promptTpl, limit = rest.headOption.map(_.toInt),
            transportFactory = () => transport)
          println(s"enrich: total=${s.total} skipped=${s.skipped} attempted=${s.attempted} " +
            s"successful=${s.successful} failed=${s.failed}")
        case "enrich-stream" :: inDir :: outMdDir :: outJsonDir :: promptTpl :: ckpt :: Nil =>
          // Hadoop-FS read: the template can live beside the data (HDFS/
          // S3/file: URIs), and local relative paths still resolve
          val prompt = graft.operators.IndexFs.readUtf8(promptTpl)
          // same env-driven transport resolution as the batch `enrich` path
          val streamTransport = graft.enrich.LlmTransports.fromEnvironment(
            sys.env.get("GRAFT_ENV_FILE").map(java.nio.file.Paths.get(_)))
          val q = graft.streaming.StreamingOps.enrichStream(
            spark, inDir, outMdDir, outJsonDir, prompt, ckpt,
            transportFactory = () => streamTransport)
          q.processAllAvailable() // drain what's there now; rerun to pick up new files
          q.stop()
          println(s"enrich-stream: drained $inDir -> $outMdDir (checkpoint $ckpt)")
        case "all" :: csv :: mdTpl :: promptTpl :: siteTpl :: workDir :: Nil =>
          // §7.1 step 10: the orchestrator's pipeline-run surface — three
          // stages sequenced through filesystem checkpoints, abort on stage-1
          // failure (setup_project.py:978-1031 semantics).
          val md = MarkdownJob.run(spark, csv, mdTpl, s"$workDir/generated_markdown_from_csv")
          println(s"all[1/3] markdown: ${md.written} files")
          if (md.written == 0) {
            System.err.println("all: stage 1 produced nothing; aborting")
            sys.exit(1)
          }
          val st = graft.enrich.EnrichJob.run(spark,
            s"$workDir/generated_markdown_from_csv",
            s"$workDir/ai_processed_markdown", s"$workDir/ai_raw_responses", promptTpl)
          println(s"all[2/3] enrich: total=${st.total} skipped=${st.skipped} successful=${st.successful} failed=${st.failed}")
          val site = SiteJob.run(spark, csv, s"$workDir/ai_processed_markdown",
            siteTpl, s"$workDir/output/index.html")
          println(s"all[3/3] site: ${site.schools} schools -> ${site.htmlPath}")
        case "probe" :: rest =>
          // E8 connectivity preflight. With an .env path the S7 config is
          // resolved and, when an endpoint is configured, the probe speaks
          // real HTTP (HttpLlmTransport); otherwise the deterministic mock
          // answers (zero-egress default).
          val envPath = rest.headOption.map(java.nio.file.Paths.get(_))
          envPath.foreach { p =>
            val cfg = graft.enrich.EnvConfig.load(Some(p))
            println(s"probe: endpoint=${cfg.endpointUrl.getOrElse("<unset>")} " +
              s"deployment=${cfg.deploymentName}")
          }
          val ok = graft.enrich.ConnectivityProbe.check(
            graft.enrich.LlmTransports.fromEnvironment(envPath))
          println(s"probe: ${if (ok) "Status: OK" else "FAILED"}")
          if (!ok) sys.exit(1)
        case "dedup" :: sfDir :: outDir :: rest =>
          // corpus dedup end-to-end: candidate pairs (chosen generator) →
          // connected components → one survivor per cluster → parquet.
          // Trailing "best" keeps the highest-n_chars doc per cluster
          // instead of the smallest id.
          import org.apache.spark.sql.functions.{col, count, lit}
          val byQuality = rest.lastOption.contains("best")
          val method = rest.headOption.filterNot(_ == "best").getOrElse("minhash")
          val docs = graft.core.Tables.documents(spark, sfDir)
          val pairs = (method match {
            case "minhash" => graft.operators.DedupOps
              .minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
            case "simhash" => graft.operators.DedupOps
              .simhashNearDups(docs, "doc_id", "text")
            case "ngram" => graft.operators.DedupOps
              // prefix-filtered at t=0.8 (self-routes to the inverted-index
              // join below 0.5); maxDf left at its complete default
              .prefixJaccardPairs(docs, "doc_id", "text", "source", 3, 0.8)
            case other => sys.error(s"unknown dedup method: $other (minhash|simhash|ngram)")
          }).select(col("id_a"), col("id_b"))
          // comps is persisted by the convergence loop — join survivors, count
          // via observe on the ONE write action (no post-write recompute),
          // then release the cache. Star contraction: diameter-proof, and the
          // faster variant at scale (see DedupClusters docs).
          val comps = graft.operators.DedupClusters
            .connectedComponentsStars(docs.select(col("doc_id")), pairs, "doc_id")
          val kept =
            if (byQuality) {
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col("component"))
                .orderBy(col("n_chars").desc, col("doc_id").asc)
              docs.join(comps, Seq("doc_id"))
                .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(w))
                .filter(col("__rk") === 1).drop("__rk", "component")
            } else docs.join(comps, Seq("doc_id"))
              .filter(col("doc_id") === col("component")).drop("component")
          val obs = org.apache.spark.sql.Observation(s"dedup_$method")
          kept.observe(obs, count(lit(1)).as("kept"))
            .write.mode("overwrite").parquet(outDir)
          val keptCount = obs.get("kept")
          comps.unpersist()
          // docs.count() is parquet-footer metadata, not a pipeline recompute
          val survivor = if (byQuality) "best-quality" else "min-id"
          println(s"dedup[$method, $survivor]: ${docs.count()} -> $keptCount docs -> $outDir")
        case "stress" :: sfDir :: workDir :: rest =>
          // the 100x scale proof (graft.tools.Stress): synthesized drifted-
          // replica corpus through dedup -> components and the IVF index,
          // with hard assertions on pair growth / CC rounds / scan pruning
          val ok = graft.tools.Stress.run(spark, sfDir, workDir,
            rest.headOption.map(_.toInt).getOrElse(100))
          if (!ok) sys.exit(1)
        case "prep" :: sfDir :: outDir :: rest =>
          // dataset-prep pipeline over `documents`: chunk → redact → split,
          // written partitioned by split so downstream training jobs read
          // train/val/test with partition pruning
          import org.apache.spark.sql.functions.col
          val window = rest.headOption.map(_.toInt).getOrElse(256)
          val stride = rest.lift(1).map(_.toInt).getOrElse(window / 2)
          val docs = graft.core.Tables.documents(spark, sfDir)
          val chunks = graft.operators.TextPipeline
            .chunk(docs, col("doc_id"), col("text"), window, stride)
            .withColumn("chunk_text", graft.operators.TextPipeline.redactPii(col("chunk_text")))
            .withColumn("split", graft.operators.Layout.hashSplit(col("id")))
          chunks.write.mode("overwrite").partitionBy("split").parquet(outDir)
          val n = spark.read.parquet(outDir).count()
          println(s"prep: $n chunks (window=$window stride=$stride) -> $outDir partitioned by split")
        case "clean" :: sfDir :: outDir :: rest =>
          // corpus-cleaning pipeline over `documents`: exact dedup →
          // duplicated-span filter → repetition filter, with an audit line
          // so a dataset release can account for every dropped doc
          import org.apache.spark.sql.functions.{coalesce, col, lit}
          val maxDupFrac = rest.headOption.map(_.toDouble).getOrElse(0.5)
          val minDistinct = rest.lift(1).map(_.toDouble).getOrElse(0.3)
          val docs = graft.core.Tables.documents(spark, sfDir)
          val n0 = docs.count()
          val deduped = graft.operators.DedupOps
            .exactDupFlags(docs, col("text"), col("doc_id"))
            .where(!col("is_dup")).drop("is_dup")
          val n1 = deduped.count()
          val spans = graft.operators.TextPipeline
            .duplicateSpans(deduped, col("doc_id"), col("text"), k = 8, minDocs = 2)
            .select(col("id").as("doc_id"), col("dup_frac"))
          val rep = graft.operators.TextPipeline
            .repetitionScore(deduped, col("doc_id"), col("text"), n = 3)
            .select(col("id").as("doc_id"), col("distinct_ratio"))
          val cleaned = deduped.join(spans, Seq("doc_id")).join(rep, Seq("doc_id"))
            .where(coalesce(col("dup_frac"), lit(0.0)) <= maxDupFrac &&
              coalesce(col("distinct_ratio"), lit(1.0)) >= minDistinct)
            .drop("dup_frac", "distinct_ratio")
          cleaned.write.mode("overwrite").parquet(outDir)
          val n2 = spark.read.parquet(outDir).count()
          println(s"clean: $n0 docs -> $n1 after exact dedup -> $n2 after " +
            s"span(<=$maxDupFrac)/repetition(>=$minDistinct) filters -> $outDir")
        case "classify" :: sfDir :: outDir :: rest =>
          // model-based quality filter over `documents`: score with the
          // linear classifier, keep >= threshold, audit line for release
          // accounting (the step a corpus pipeline runs between `clean`
          // and sampling)
          import org.apache.spark.sql.functions.col
          val threshold = rest.headOption.map(_.toDouble).getOrElse(0.5)
          val docs = graft.core.Tables.documents(spark, sfDir)
          val scored = graft.operators.QualityClassifier
            .classify(docs, col("text"), threshold = threshold)
          scored.where(col("keep")).drop("keep")
            .write.mode("overwrite").parquet(outDir)
          val n0 = docs.count()
          val n1 = spark.read.parquet(outDir).count()
          println(s"classify: $n0 docs -> $n1 kept (score >= $threshold) -> $outDir")
        case "profile" :: sfDir :: table :: cols =>
          // release QA report over any testdata table; default = all columns
          val src =
            if (table == "events") graft.core.Tables.events(spark, sfDir)
            else graft.core.Tables.table(spark, sfDir, table)
          val selected = if (cols.isEmpty) src.columns.toSeq else cols
          graft.operators.Profiler.profile(src, selected)
            .orderBy("column").show(truncate = false)
        case "drift" :: beforePath :: afterPath :: cols =>
          // distribution-shape drift between two corpus snapshots: named
          // columns become categorical dimensions (numerics bucketed to
          // exact powers of two); no columns -> the curation defaults
          // (language + length bucket of `text`). Prints per-dimension
          // total variation, then the largest per-category share movers.
          import org.apache.spark.sql.functions.{abs, col, length}
          import org.apache.spark.sql.types.{NumericType, StringType}
          val before = spark.read.parquet(beforePath)
          val after = spark.read.parquet(afterPath)
          val dims: Seq[(String, org.apache.spark.sql.Column)] =
            if (cols.isEmpty)
              Seq("lang" -> graft.operators.TextAnalysis.langId(col("text")),
                "len" -> graft.operators.Profiler.log2Bucket(length(col("text"))))
            else cols.map { c =>
              val f = before.schema.fields.find(_.name == c).getOrElse(
                sys.error(s"drift: column '$c' not in $beforePath"))
              f.dataType match {
                case _: NumericType => c -> graft.operators.Profiler.log2Bucket(col(c))
                case _: StringType => c -> col(c)
                case other => sys.error(
                  s"drift: column '$c' is $other — name a string or numeric column")
              }
            }
          val report = graft.operators.Profiler
            .distributionDrift(before, after, dims).localCheckpoint()
          report.select("dim", "tv").distinct().orderBy(col("tv").desc)
            .show(truncate = false)
          report.orderBy(abs(col("share_after") - col("share_before")).desc)
            .show(20, truncate = false)
        case "dedup-sensitivity" :: sfDir :: rest =>
          // what WOULD a near-dup pass remove at each threshold? One
          // candidate pass of the lossless n-gram Jaccard machinery,
          // folded into a per-threshold docs/pairs report — the number a
          // curation operator reads before picking the production cutoff.
          val minT = rest.headOption.map(_.toInt).getOrElse(10)
          val den = rest.drop(1).headOption.map(_.toInt).getOrElse(20)
          graft.operators.DedupOps.jaccardThresholdSensitivity(
            graft.core.Tables.documents(spark, sfDir),
            "doc_id", "text", "lang", minT = minT, den = den)
            .orderBy("t").show(den, truncate = false)
        case "mix-plan" :: sfDir :: recipe :: rest =>
          // feasibility forecast for a token recipe BEFORE sampling: per
          // group, docs/tokens available vs budget, the sampler's keep
          // rate, epochs (> 1 = the recipe upsamples — repetition regime),
          // deficit/surplus, and a status; recipe typos and surprise
          // corpus groups surface as 'missing'/'unbudgeted' rows.
          // The token UNIT matches the pipeline's mix stage exactly —
          // whitespace tokens by default, REAL BPE tokens with
          // --bpe-merges — a forecast in a different unit than the
          // executor would mislead by the tokenizer's fertility factor.
          import org.apache.spark.sql.functions.col
          val (flags, _) = splitFlags(rest)
          def weight(c: org.apache.spark.sql.Column) =
            flags.get("--bpe-merges").map(graft.operators.Bpe.loadMerges)
              .fold(graft.operators.TextAnalysis.tokenCount(c))(m =>
                graft.operators.Bpe.tokenCount(c, m))
          graft.operators.Sampling.mixFeasibility(
            graft.core.Tables.documents(spark, sfDir), col("lang"),
            weight(col("text")),
            parseMix(recipe).budgets).show(100, truncate = false)
        case "filter-impact" :: sfDir :: Nil =>
          // what the Gopher rule chain does to the per-language MIX:
          // docs/tokens kept and removed plus each language's token share
          // before vs after — share_delta is the recipe-change signal
          import org.apache.spark.sql.functions.col
          graft.operators.Profiler.filterImpact(
            graft.core.Tables.documents(spark, sfDir), col("lang"),
            graft.operators.QualityRules.keep(col("text")),
            graft.operators.QualityRules.wordCount(col("text")))
            .show(100, truncate = false)
        case "rule-impact" :: sfDir :: Nil =>
          // which Gopher rule is binding, per language, and what relaxing
          // it would buy (docs failing ONLY that rule)
          import org.apache.spark.sql.functions.col
          graft.operators.QualityRules.ruleImpact(
            graft.core.Tables.documents(spark, sfDir), col("lang"), col("text"))
            .show(100, truncate = false)
        case "manifest" :: dir :: Nil =>
          // write the release manifest beside the data (dir/_manifest):
          // per part file, bytes + footer row count + streaming md5
          import org.apache.spark.sql.functions.{col, sum}
          val m = graft.sinks.DatasetManifest.write(spark, dir)
          val t = m.agg(sum(col("bytes")), sum(col("rows"))).head()
          // sum() is null on an empty dir (or when every footer was
          // unreadable) — summarize as 0 rather than NPE on getLong
          val bytes = if (t.isNullAt(0)) 0L else t.getLong(0)
          val rows = if (t.isNullAt(1)) 0L else t.getLong(1)
          println(s"manifest: ${m.count()} files, $bytes bytes, " +
            s"$rows rows -> $dir/_manifest")
        case "manifest-append" :: dir :: Nil =>
          // incrementally seal a GROWN release: digest only part files not
          // yet in dir/_manifest and extend it (entry-identical to a fresh
          // full seal — gate t131); sealing cost is proportional to the
          // delta, not the release. Pipeline 09b keeps the full seal
          // because it REWRITES its release wholesale each run; this is
          // the arc for releases grown in place (new shards beside sealed
          // ones).
          import org.apache.spark.sql.functions.{col, sum}
          val before = spark.read.parquet(s"$dir/_manifest").count()
          val m = graft.sinks.DatasetManifest.append(spark, dir)
          val t = m.agg(sum(col("bytes")), sum(col("rows"))).head()
          val bytes = if (t.isNullAt(0)) 0L else t.getLong(0)
          val rows = if (t.isNullAt(1)) 0L else t.getLong(1)
          println(s"manifest-append: ${m.count() - before} new files sealed " +
            s"(${m.count()} total, $bytes bytes, $rows rows) -> $dir/_manifest")
        case "manifest-verify" :: dir :: rest =>
          // check the dataset against its stored manifest; prints every
          // non-ok file, most severe first. Default tier is FULL (the
          // sealing check — streams every byte); pass `sampled` for the
          // keyed-page tier (~256 KiB/file — catches page rot quick can't)
          // or `quick` for the structural tier (file set + bytes + footer
          // rows, no data read)
          import org.apache.spark.sql.functions.col
          val mode = rest.headOption.getOrElse("full")
          val v = graft.sinks.DatasetManifest.verify(spark, dir, mode)
            .localCheckpoint()
          val bad = v.where(col("status") =!= "ok")
          bad.show(100, truncate = false)
          val nBad = bad.count()
          println(s"manifest-verify: ${v.count()} files, " +
            s"${v.count() - nBad} ok, $nBad not ok")
        case "zorder" :: inPath :: outPath :: colA :: colB :: rest =>
          import org.apache.spark.sql.functions.col
          val files = rest.headOption.map(_.toInt).getOrElse(64)
          graft.operators.Layout.zorderWrite(
            spark.read.parquet(inPath), outPath, col(colA), col(colB), files)
          println(s"zorder: $inPath -> $outPath clustered on ($colA, $colB) in $files files")
        case "compact" :: inPath :: outPath :: rest =>
          val target = rest.headOption.map(_.toLong).getOrElse(128L * 1024 * 1024)
          val (before, after) = graft.operators.Layout.compact(spark, inPath, outPath, target)
          println(s"compact: $before files -> $after files ($inPath -> $outPath)")
        case "frequent" :: sfDir :: rest =>
          import org.apache.spark.sql.functions.{col, explode, length, lower, split}
          val k = rest.headOption.map(_.toInt).getOrElse(50)
          val toks = graft.core.Tables.documents(spark, sfDir)
            .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
            .where(length(col("tok")) > 0)
          graft.operators.HeavyHitters.frequentItems(toks, "tok", k)
            .orderBy(col("est").desc).show(k, truncate = false)
        case "shards" :: sfDir :: outDir :: rest =>
          // materialize an epoch's deterministic training order as
          // shard=<id> parquet dirs (the files a data loader consumes)
          import org.apache.spark.sql.functions.{col, count, lit}
          val n = rest.headOption.map(_.toInt).getOrElse(8)
          val epoch = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
          val back = graft.operators.TrainingOrder.writeShards(
            graft.core.Tables.documents(spark, sfDir), col("doc_id"),
            outDir, n, epoch)
          back.groupBy(col("shard")).agg(count(lit(1)).as("docs"))
            .orderBy(col("shard")).collect()
            .foreach(r => println(s"shards[${r.getInt(0)}]: ${r.getLong(1)} docs"))
          // seal the release like pipeline 09b does
          graft.sinks.DatasetManifest.write(spark, outDir)
          println(s"shards: epoch=$epoch n=$n -> $outDir (manifest sealed)")
        case "shards-read" :: dir :: from :: to :: rest =>
          // the consumer side of the shard contract, as the training
          // loader runs it: shards [from, to] streamed in exact replay
          // order through the NO-SHUFFLE sequential path (numeric part
          // order, per-file partitions), behind the tiered manifest gate
          // (default quick, or GRAFT_SHARD_VERIFY_TIER —
          // full|sampled|quick|off as 4th arg). The replay
          // column is detected from the release itself: `global_pos` for
          // mixture shards, `skey` for epoch shards (the two writers'
          // contract). Prints the row count and the first rows as a
          // smoke of the order.
          val verify = rest.headOption
            .getOrElse(graft.operators.TrainingOrder.defaultVerifyTier)
          val posCol =
            if (spark.read.parquet(dir).columns.contains("global_pos"))
              "global_pos"
            else "skey"
          val it = graft.operators.TrainingOrder.shardRangeIterator(
            spark, dir, from.toInt, to.toInt, posCol, verify = verify)
          var n = 0L
          val head = scala.collection.mutable.ArrayBuffer.empty[String]
          it.foreach { r =>
            if (n < 5) head += r.toString
            n += 1
          }
          println(s"shards-read: ${n} rows from shards [$from, $to] of $dir " +
            s"(verify=$verify), first rows in replay order:")
          head.foreach(r => println(s"  $r"))
        case "ann-build" :: sfDir :: indexDir :: rest =>
          // build the production ANN index (IVF, cell-partitioned parquet)
          // over the embeddings table; see Similarity for the sizing rule
          val nCells = rest.headOption.map(_.toInt).getOrElse(8)
          graft.operators.Similarity.ivfBuild(
            graft.core.Tables.embeddings(spark, sfDir),
            "vec_id", "embedding", nCells, indexDir)
          println(s"ann-build: $nCells cells -> $indexDir")
        case "ann-append" :: inParquet :: indexDir :: Nil =>
          // grow a persisted index under its frozen quantizer (vec_id +
          // embedding columns; the continuous-crawl shape for vectors).
          // Routed through the maintenance ledger, so each append's drift
          // reading lands in indexDir/drift_log and `ann-maintain` can
          // decide from history, not just the latest batch.
          val in = spark.read.parquet(inParquet)
          val st = graft.operators.AnnMaintenance.append(
            spark, indexDir, in, "vec_id", "embedding")
          val drift = st.driftRatio.fold("n/a (no build baseline)")(r =>
            f"$r%.3f" + (if (r > 1.5) "  ** DRIFTED: run ann-maintain **" else ""))
          println(f"ann-append: ${st.n} vectors -> $indexDir " +
            f"(mean_l2sq=${st.meanL2sq}%.4f drift_ratio=$drift)")
        case "ann-pq-build" :: sfDir :: indexDir :: rest =>
          // the composed billion-scale layout: IVF cells carrying PQ codes
          // + vectors. Default is the RESIDUAL encoding (classic IVF-ADC —
          // higher raw-ADC recall per code byte); pass `opq` as the 4th
          // option for the rotated residual layout (another measured pool-
          // recall step at tight rerank budgets — GateProbe opq decides),
          // or `raw` for the legacy raw-vector encoding.
          val nCells = rest.headOption.map(_.toInt).getOrElse(8)
          val m = rest.drop(1).headOption.map(_.toInt).getOrElse(16)
          val nCodes = rest.drop(2).headOption.map(_.toInt).getOrElse(16)
          val encoding = rest.drop(3).headOption.getOrElse("residual")
          val emb = graft.core.Tables.embeddings(spark, sfDir)
          encoding match {
            case "raw" =>
              val model = graft.operators.ProductQuantizer.train(emb, "embedding", m, nCodes)
              graft.operators.ProductQuantizer.ivfPqBuild(
                emb, "vec_id", "embedding", nCells, model, indexDir)
            case "residual" => graft.operators.ProductQuantizer.ivfPqBuildResidual(
              emb, "vec_id", "embedding", nCells, m, nCodes, indexDir)
            case "opq" => graft.operators.ProductQuantizer.ivfPqBuildOpq(
              emb, "vec_id", "embedding", nCells, m, nCodes, indexDir)
            case other => sys.error(s"unknown pq encoding: $other (raw|residual|opq)")
          }
          println(s"ann-pq-build: $nCells cells x ($m x $nCodes) codebooks " +
            s"($encoding encoding) -> $indexDir")
        case "ann-pq-append" :: inParquet :: indexDir :: Nil =>
          // grow the composed index under both frozen quantizers — also
          // via the maintenance ledger (AnnMaintenance.append dispatches
          // on the layout, so this and ann-append share one entry point)
          val in = spark.read.parquet(inParquet)
          val st = graft.operators.AnnMaintenance.append(
            spark, indexDir, in, "vec_id", "embedding")
          val drift = st.driftRatio.fold("n/a (no build baseline)")(r =>
            f"$r%.3f" + (if (r > 1.5) "  ** DRIFTED: run ann-maintain **" else ""))
          println(f"ann-pq-append: ${st.n} vectors -> $indexDir " +
            f"(mean_l2sq=${st.meanL2sq}%.4f drift_ratio=$drift)")
        case "ann-pq-query" :: queriesParquet :: indexDir :: rest =>
          val k = rest.headOption.map(_.toInt).getOrElse(5)
          val nProbe = rest.drop(1).headOption.map(_.toInt).getOrElse(5)
          val rerank = rest.drop(2).headOption.map(_.toInt).getOrElse(100)
          graft.operators.ProductQuantizer.ivfPqQuery(spark, indexDir,
              spark.read.parquet(queriesParquet), "vec_id", "embedding",
              k, nProbe, rerank)
            .show(50, truncate = false)
          println(s"ann-pq-query: k=$k nProbe=$nProbe rerank=$rerank over $indexDir")
        case "ann-rebuild" :: indexDir :: rest =>
          // re-train the quantizer(s) over the accumulated corpus behind a
          // write-then-swap (the action the append drift warning points
          // to; stop appenders/queries first — replaceDir's contract).
          // Dispatches on the layout: an index carrying a pq_model is the
          // composed IVF-PQ layout and re-fits BOTH quantizers.
          val nCells = rest.headOption.map(_.toInt).getOrElse(8)
          // Hadoop-FS layout dispatch (AnnMaintenance.isComposed): a local
          // probe would mis-dispatch an index living on an HDFS/S3 URI
          val composed = graft.operators.AnnMaintenance.isComposed(indexDir)
          val n =
            if (composed) graft.operators.ProductQuantizer.ivfPqRebuild(
              spark, indexDir, nCells,
              m = rest.drop(1).headOption.map(_.toInt),
              nCodes = rest.drop(2).headOption.map(_.toInt))
            else graft.operators.Similarity.ivfRebuild(spark, indexDir, nCells)
          val kind = if (composed) "ivf-pq (both quantizers)" else "ivf"
          println(s"ann-rebuild: $n vectors re-quantized ($kind) into $nCells cells -> $indexDir")
        case "ann-maintain" :: indexDir :: rest =>
          // the drift->rebuild POLICY: rebuild iff the last `sustain`
          // appends all read ratio > maxRatio (or mixture-tv > mixtureTv),
          // or measured recall sits below the floor; COMPACT (physical
          // tombstone resolve) iff the tombstoned fraction exceeds
          // tombstoneFrac, or the upsert-delta fraction exceeds
          // upsertFrac. Args: [maxRatio] [sustain] [recallFloor|-]
          // [nCells|-] [mixtureTv|-] [tombstoneFrac|-] [upsertFrac|-] —
          // '-' disables that
          // sensor (the concentration knob exists because a single-domain
          // backfill legitimately concentrates; the tombstone knob because
          // an operator mid-takedown-campaign may want ONE compact at the
          // end, not one per threshold crossing), absent keeps the policy
          // default. Appends must go through AnnMaintenance.append (or
          // the crawl daemon) so the drift log exists. Prints the full
          // decision trace either way.
          val defaults = graft.operators.AnnMaintenance.MaintenancePolicy()
          val policy = graft.operators.AnnMaintenance.MaintenancePolicy(
            maxDriftRatio = rest.headOption.map(_.toDouble).getOrElse(1.5),
            sustainAppends = rest.drop(1).headOption.map(_.toInt).getOrElse(3),
            recallFloor = rest.drop(2).headOption.filter(_ != "-").map(_.toDouble),
            rebuildNCells = rest.drop(3).headOption.filter(_ != "-").map(_.toInt),
            maxMixtureTv = rest.drop(4).headOption
              .map(a => if (a == "-") None else Some(a.toDouble))
              .getOrElse(defaults.maxMixtureTv),
            maxTombstoneFraction = rest.drop(5).headOption
              .map(a => if (a == "-") None else Some(a.toDouble))
              .getOrElse(defaults.maxTombstoneFraction),
            maxUpsertFraction = rest.drop(6).headOption
              .map(a => if (a == "-") None else Some(a.toDouble))
              .getOrElse(defaults.maxUpsertFraction),
            // generation-grace depth for the compact/rebuild this policy
            // fires: readers survive keepGenerations-1 concurrent commits
            keepGenerations = rest.drop(7).headOption.filter(_ != "-")
              .map(_.toInt).getOrElse(defaults.keepGenerations))
          val d = graft.operators.AnnMaintenance.maintain(spark, indexDir, policy)
          println(s"ann-maintain: appends=${d.appendsLogged} " +
            s"recent_ratios=[${d.recentRatios.map(r => f"$r%.3f").mkString(", ")}] " +
            s"recent_mixture_tv=[${d.recentMixtureTv.map(r => f"$r%.3f").mkString(", ")}] " +
            s"sustained=${d.sustainedDrift} sustained_mixture=${d.sustainedMixture} " +
            s"recall=${d.measuredRecall.map(r => f"$r%.3f").getOrElse("not measured")} " +
            s"tombstone_fraction=${d.tombstoneFraction.map(r => f"$r%.3f").getOrElse("none")} " +
            s"upsert_fraction=${d.upsertFraction.map(r => f"$r%.3f").getOrElse("none")}")
          println(s"ann-maintain: rebuilt=${d.rebuilt} compacted=${d.compacted} — ${d.reason}")
        case "ann-recall" :: indexDir :: rest =>
          // ground-truth recall of the PERSISTED query path vs brute force
          // over the index's own vectors — the measurement the drift
          // ratio predicts; run it when ann-append warns, before deciding
          // to ann-rebuild
          val k = rest.headOption.map(_.toInt).getOrElse(5)
          val nProbe = rest.drop(1).headOption.map(_.toInt).getOrElse(4)
          val nQueries = rest.drop(2).headOption.map(_.toInt).getOrElse(16)
          val r = graft.operators.Similarity.indexRecall(
            spark, indexDir, k, nProbe, nQueries)
          println(f"ann-recall: recall@$k = $r%.3f " +
            f"(nProbe=$nProbe, $nQueries sampled queries) for $indexDir")
        case "hybrid-search" :: sfDir :: annDir :: outDir :: qidStr :: rest0
            if rest0.nonEmpty =>
          // production-shape hybrid retrieval: BM25 lexical pool + the
          // PERSISTED ANN index's ranked pool for a query vector, fused by
          // reciprocal-rank fusion (TextSearch.rrfFuse — the t135/t138
          // operator family). Both pools come from distributed heap/
          // pruned-scan operators; the fusion ranks a <= 100-row pool.
          //   --lex <dir>        serve the lexical pool from a persisted
          //                      LexIndex (posting-slice reads) instead of
          //                      re-scanning the corpus per query
          //   --filter <parquet> allowed-ids frame (first column) threaded
          //                      through BOTH pools — no disallowed id can
          //                      surface in the fused top-k
          import org.apache.spark.sql.functions.{broadcast, col, row_number}
          var restArgs = rest0
          var lexIx: Option[String] = None
          var filterPath: Option[String] = None
          var parsing = true
          while (parsing) restArgs match {
            case "--lex" :: dirArg :: tl => lexIx = Some(dirArg); restArgs = tl
            case "--filter" :: p :: tl => filterPath = Some(p); restArgs = tl
            case _ => parsing = false
          }
          val terms = restArgs
          require(terms.nonEmpty, "hybrid-search: no query terms given")
          val poolK = 50
          val docs = graft.core.Tables.documents(spark, sfDir)
          val emb = graft.core.Tables.embeddings(spark, sfDir)
          val allowed = filterPath.map(p => spark.read.parquet(p))
          val lexW = org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("id"))
          val lexRanked = lexIx match {
            case Some(ix) => graft.operators.LexIndex.bm25TopKFromIndex(
              spark, ix, terms, k = poolK, allowed = allowed)
            case None => graft.operators.TextSearch.bm25TopK(docs,
              col("doc_id"), col("text"), terms, k = poolK, allowed = allowed)
          }
          val lex = lexRanked.select(col("id"),
            row_number().over(lexW).cast("bigint").as("rank"))
          val queries = emb.where(col("vec_id") === qidStr.toLong)
          // layout-dispatched front door: a composed index serves the
          // pool from the codes-only ADC scan, never a full-vector read
          val dense = (allowed match {
            case Some(a) => graft.operators.Similarity.annQueryFilteredAdaptive(
              spark, annDir, queries, "vec_id", "embedding",
              a, a.columns.head, k = poolK, baseNProbe = 8, rerank = poolK * 2)
            case None => graft.operators.Similarity.annQuery(spark, annDir,
              queries, "vec_id", "embedding", k = poolK, nProbe = 8,
              rerank = poolK * 2)
          }).select(col("neighbor_id").as("id"), col("rank"))
          val fused = graft.operators.TextSearch.rrfFuse(
            Seq(lex, dense), k = 20)
          fused.orderBy(col("fused_rank"))
            .write.mode("overwrite").parquet(outDir)
          val top = spark.read.parquet(outDir).orderBy(col("fused_rank"))
            .limit(5).collect()
          println(s"hybrid-search: terms=${terms.mkString(",")} qid=$qidStr " +
            s"-> ${spark.read.parquet(outDir).count()} fused results " +
            s"-> $outDir")
          top.foreach(r => println(s"  #${r.getAs[Long]("fused_rank")} " +
            s"doc ${r.get(0)} lex=${r.getAs[Any]("rank_0")} " +
            s"dense=${r.getAs[Any]("rank_1")} " +
            f"rrf=${r.getAs[Double]("rrf_score")}%.5f"))
        case "hybrid-search-many" :: sfDir :: annDir :: lexIxDir ::
            queryFile :: outDir :: filterRest
            if filterRest.isEmpty || filterRest.take(1) == List("--filter") =>
          // BATCHED hybrid retrieval from a query file — the evaluation /
          // serving shape: every line is `<queryVecId> <term> [term ...]`,
          // and the WHOLE batch costs one lexical slice-union pass
          // (bm25TopKFromIndexMany), one multi-row dense call (ivfQuery's
          // batched contract) and one query-partitioned RRF fusion —
          // driver jobs constant in the number of lines.
          import org.apache.spark.sql.functions.col
          // Hadoop-FS read (IndexFs), so the query file can live beside
          // the indexes on the cluster store — and the grep gate's
          // no-local-filesystem rule holds for this surface too
          val allowedMany = filterRest.drop(1).headOption
            .map(pth => spark.read.parquet(pth))
          val lines = graft.operators.IndexFs.readUtf8(queryFile)
            .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
          val qs = lines.map { l =>
            val p = l.split("\\s+").toSeq
            require(p.size >= 2,
              s"hybrid-search-many: bad query line '$l' — want " +
                "'<queryVecId> <term> [term ...]'")
            p.head.toLong -> p.tail
          }
          val emb = graft.core.Tables.embeddings(spark, sfDir)
          val fused = graft.operators.TextSearch.hybridSearchMany(spark,
            lexIxDir, annDir, qs, emb, "vec_id", "embedding",
            k = 20, poolK = 50, nProbe = 8, allowed = allowedMany)
          fused.orderBy(col("query_id"), col("fused_rank"))
            .write.mode("overwrite").parquet(outDir)
          val out = spark.read.parquet(outDir)
          println(s"hybrid-search-many: ${qs.size} queries -> " +
            s"${out.count()} fused rows -> $outDir")
          out.where(col("fused_rank") === 1)
            .orderBy(col("query_id")).collect().foreach(r =>
              println(s"  query ${r.getAs[String]("query_id")} top doc " +
                s"${r.get(1)} rrf=${r.getAs[Double]("rrf_score")}"))
        case "lex-build" :: sfDir :: indexDir :: rest =>
          // build the persisted lexical (BM25) index over the documents
          // table: term-hash-bucketed postings + doclens + additive stats
          // (LexIndex) — after this, hybrid-search --lex and lex-search
          // read posting slices instead of re-scanning the corpus
          val nBuckets = rest.headOption.map(_.toInt).getOrElse(64)
          val analyzer = rest.drop(1).headOption.getOrElse("raw")
          val withPositions = !rest.drop(2).headOption.contains("nopositions")
          graft.operators.LexIndex.build(
            graft.core.Tables.documents(spark, sfDir),
            "doc_id", "text", indexDir, nBuckets, analyzer, withPositions)
          val nDocs = spark.read.parquet(s"$indexDir/doclens").count()
          println(s"lex-build: $nDocs docs, $nBuckets buckets, " +
            s"analyzer=$analyzer, positions=$withPositions -> $indexDir")
        case "lex-append" :: inParquet :: indexDir :: idCol :: textCol :: Nil =>
          // incremental append of NEW documents (additive df/N/Σdl — no
          // existing file is touched); re-adding a tombstoned id is a loud
          // error until lex-maintain/compact resolves the deletion
          val n = graft.operators.LexIndex.append(spark, indexDir,
            spark.read.parquet(inParquet), idCol, textCol)
          println(s"lex-append: $n docs appended -> $indexDir")
        case "lex-upsert" :: inParquet :: indexDir :: idCol :: textCol :: Nil =>
          // replace documents by id (and/or add new ones) in ONE leased
          // commit — re-crawled changed pages re-ingest NOW (version-floor
          // ledger entries hide old rows exactly; compact folds physically)
          val n = graft.operators.LexIndex.upsert(spark, indexDir,
            spark.read.parquet(inParquet), idCol, textCol)
          println(s"lex-upsert: $n docs upserted -> $indexDir " +
            "(old versions hidden exactly; physical fold at next compact)")
        case "lex-maintain" :: indexDir :: rest =>
          // tombstone-pressure maintenance (the ann-maintain sensor on the
          // lexical layout): compact iff the tombstoned fraction exceeds
          // the threshold — footer-metadata counts only when below it
          val frac = rest.headOption.map(_.toDouble).getOrElse(0.25)
          val fired = graft.operators.LexIndex.maintain(spark, indexDir, frac)
          println(s"lex-maintain: ${if (fired) "COMPACTED (pressure > " +
            s"$frac)" else s"no-op (pressure <= $frac)"} -> $indexDir")
        case "lex-search" :: indexDir :: kStr :: terms if terms.nonEmpty =>
          // BM25 top-k served from the persisted index: per term one
          // bucket-pruned posting-slice read — never a corpus scan
          import org.apache.spark.sql.functions.col
          val k = kStr.toInt
          val out = graft.operators.LexIndex
            .bm25TopKFromIndex(spark, indexDir, terms, k)
            .orderBy(col("score").desc, col("id")).collect()
          println(s"lex-search: terms=${terms.mkString(",")} k=$k " +
            s"-> ${out.length} results")
          out.take(10).foreach(r => println(
            f"  doc ${r.get(0)} score=${r.getAs[Double]("score")}%.6f " +
              s"dl=${r.getAs[Long]("dl")}"))
        case "admission-maintain" :: indexDir :: rest =>
          // tombstone-pressure maintenance for an fp/sig admission index:
          // compact (physical resolve) iff the tombstoned fraction exceeds
          // the threshold — the ann-maintain tombstone sensor's delta-index
          // twin. Stop the pipeline/stream first (the compactor's
          // writer-quiesced contract).
          val kind = rest.headOption.getOrElse("fp")
          val frac = rest.drop(1).headOption.map(_.toDouble).getOrElse(0.25)
          val fired = graft.operators.IncrementalDedup
            .maintainAdmissionIndex(spark, indexDir, kind, frac)
          println(s"admission-maintain[$kind]: " +
            (if (fired) s"tombstone pressure > $frac — compacted $indexDir"
             else s"no action (no tombstones or fraction <= $frac)"))
        case "index-status" :: dir :: Nil =>
          // one operator-facing view of a persisted index's health: layout,
          // live/tombstoned rows + the fraction maintain's pressure sensor
          // reads, drift-ledger tail, and the writer lease — the numbers an
          // on-call person needs BEFORE deciding ann-maintain/ann-rebuild/
          // compact-index, gathered from footer metadata only (no data scan)
          import graft.operators.{AnnMaintenance, IncrementalDedup, IndexFs,
            IndexLease, IndexLedger}
          val root = IncrementalDedup.readRoot(dir)
          val gens = IncrementalDedup.generations(dir)
          val isAnn = IndexFs.exists(s"$root/centroids")
          if (isAnn) {
            val layout =
              if (AnnMaintenance.isComposed(dir)) {
                val m = graft.operators.ProductQuantizer.loadModel(spark, dir)
                s"ivf-pq (encoding=${m.encoding}, m=${m.m}, nCodes=${m.nCodes})"
              } else "ivf"
            val nCells = spark.read.parquet(s"$root/centroids").count()
            val rows = spark.read.parquet(s"$root/cells").count()
            val ts = s"$root/tombstones"
            val nTs = IndexLedger.rows(ts)
            val tsFiles = IndexFs.fileNames(ts).count(_.endsWith(".parquet"))
            val (nUp, upFiles) =
              if (IndexFs.exists(s"$root/upserts")) {
                val u = spark.read.parquet(s"$root/upserts")
                (u.count(), u.inputFiles.length)
              } else (0L, 0)
            println(s"index-status: $dir")
            println(s"  layout: $layout  cells: $nCells  rows: $rows" +
              (if (gens.nonEmpty) s"  generation: ${gens.last} " +
                s"(${gens.size} on disk)" else ""))
            if (nUp > 0)
              println(f"  upserts: $nUp version rows ($upFiles files, " +
                f"fraction ${nUp.toDouble / math.max(1L, rows)}%.3f of rows " +
                "— maintain compacts past maxUpsertFraction)")
            if (nTs > 0)
              println(f"  tombstones: $nTs ($tsFiles files, fraction " +
                f"${nTs.toDouble / math.max(1L, rows)}%.3f of rows — " +
                "maintain compacts past maxTombstoneFraction)")
            else println("  tombstones: none")
            val logDir = s"$root/drift_log"
            IndexLedger.read(spark, logDir, AnnMaintenance.DriftLogSchema) match {
              case Some(log) =>
                import org.apache.spark.sql.functions.col
                val tail = log.orderBy(col("seq").desc).limit(3)
                  .select("seq", "ratio", "mixture_tv").collect()
                val s2 = tail.map(r => f"seq=${r.getLong(0)} " +
                  f"ratio=${if (r.isNullAt(1)) "-" else f"${r.getDouble(1)}%.3f"} " +
                  f"tv=${if (r.isNullAt(2)) "-" else f"${r.getDouble(2)}%.3f"}")
                println(s"  drift ledger: ${IndexLedger.rows(logDir)} " +
                  s"append(s); tail: ${s2.mkString(" | ")}")
              case None => println("  drift ledger: none (appends have not " +
                "gone through AnnMaintenance.append)")
            }
          } else if (IndexFs.exists(s"$root/postings") &&
              IndexFs.exists(s"$root/meta")) {
            // the lexical (BM25) layout: postings + doclens + stats ledger
            val nBuckets = spark.read.parquet(s"$root/meta")
              .head().getAs[Int]("nbuckets")
            val nDocs = spark.read.parquet(s"$root/doclens").count()
            val nPost = spark.read.parquet(s"$root/postings").count()
            val statFiles = spark.read.parquet(s"$root/stats").inputFiles.length
            // an entry's `below` alone tells a deletion (MaxValue, or null
            // in a legacy id-only row) from a version floor
            val (nDel, nFloors) = IndexLedger.read(spark, s"$root/tombstones",
                new org.apache.spark.sql.types.StructType()
                  .add("below", org.apache.spark.sql.types.LongType))
              .map { t =>
                import org.apache.spark.sql.functions.{coalesce, col, lit}
                val del = t.where(coalesce(col("below"),
                  lit(Long.MaxValue)) === Long.MaxValue).count()
                (del, IndexLedger.rows(s"$root/tombstones") - del)
              }.getOrElse((0L, 0L))
            println(s"index-status: $dir")
            println(s"  layout: lexical (bm25)  buckets: $nBuckets  " +
              s"docs: $nDocs  postings: $nPost  stats files: $statFiles" +
              (if (gens.nonEmpty) s"  generation: ${gens.last} " +
                s"(${gens.size} on disk)" else ""))
            println(if (nDel + nFloors > 0)
              f"  ledger: $nDel deletion(s) + $nFloors version floor(s) " +
                f"(hidden fraction <= ${(nDel + nFloors).toDouble / math.max(1L, nDocs)}%.3f " +
                "of rows — lex-maintain compacts past maxTombstoneFraction)"
            else "  ledger: empty")
          } else {
            val batches = IndexFs.subdirNames(root).count(_.startsWith("batch="))
            // an all-empty delta index has no parquet footers to infer a
            // schema from (the daemon writes a batch= delta even for a
            // snapshot that admitted nothing) — a health probe must
            // report that, not crash on it
            val dfOpt =
              try Some(spark.read.parquet(root))
              catch {
                case ae: org.apache.spark.sql.AnalysisException
                    if ae.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
              }
            val kind = dfOpt match {
              case Some(df) if df.columns.contains("fp") => "fp-delta (exact admission)"
              case Some(df) if df.columns.contains("sig") => "sig-delta (near-dup admission)"
              case Some(df) if df.columns.contains("host") => "robots-delta"
              case Some(df) => s"delta (${df.columns.mkString(",")})"
              case None => "delta (all-empty — no rows admitted yet)"
            }
            val nTs = IndexLedger.rows(s"$root/_tombstones")
            println(s"index-status: $dir")
            println(s"  layout: $kind  batches: $batches  rows: " +
              s"${dfOpt.map(_.count()).getOrElse(0L)}" +
              (if (gens.nonEmpty) s"  generation: ${gens.last} " +
                s"(${gens.size} on disk)" else ""))
            println(if (nTs > 0) s"  tombstones: $nTs (cleared on re-admission " +
              "or compact-index)" else "  tombstones: none")
            // re-crawl hygiene state (upsertAdmission): superseded sig
            // versions pending the physical drop, and the carrier ledger
            val nFloors = IndexLedger.rows(s"$root/_floors")
            if (nFloors > 0)
              println(s"  version floors: $nFloors " +
                "(superseded versions of changed pages — resolved at " +
                "compact-index/admission-maintain)")
            if (IndexFs.exists(s"$root/_carriers"))
              println(s"  carriers: " +
                s"${spark.read.parquet(s"$root/_carriers").count()} " +
                "(id -> content rows; folded at compaction)")
          }
          val marker = IndexLease.leasePath(dir)
          if (IndexFs.exists(marker)) {
            val age = (System.currentTimeMillis() -
              IndexFs.modificationTime(marker)) / 1000
            println(s"  lease: HELD by ${IndexFs.readUtf8(marker)} " +
              s"(renewed ${age}s ago)")
          } else println("  lease: free")
        case "takedown" :: ixDir :: docsParquet :: Nil =>
          // the operator-facing takedown arc across the crawl pipeline's
          // admission indexes: given the documents to remove (doc_id +
          // text — the columns admission fingerprinted), tombstone their
          // content fingerprints in <ix>/fp and their signature rows in
          // <ix>/sig. Admission treats them as GONE from the next
          // snapshot (a re-crawled page re-admits, and its delta write
          // clears the tombstone); the next index compaction drops the
          // rows physically. Vector indexes are separate artifacts —
          // use `ann-delete` for those.
          import org.apache.spark.sql.functions.col
          val tdDocs = spark.read.parquet(docsParquet)
          val nFp =
            if (graft.operators.IndexFs.exists(s"$ixDir/fp"))
              graft.operators.IncrementalDedup.deleteFingerprints(spark,
                s"$ixDir/fp", tdDocs.select(graft.operators.TextAnalysis
                  .fingerprint(col("text")).as("fp")))
            else 0L
          val nSig =
            if (graft.operators.IndexFs.exists(s"$ixDir/sig"))
              graft.operators.IncrementalDedup.deleteSignatureIds(spark,
                s"$ixDir/sig", tdDocs.select(col("doc_id").as("id")))
            else 0L
          println(s"takedown: $nFp fingerprints + $nSig signature ids " +
            s"tombstoned in $ixDir (physical drop at the next compaction)")
        case "admission-upsert" :: ixDir :: docsParquet :: bidStr :: Nil =>
          // takedown's re-crawl twin (IncrementalDedup.upsertAdmission):
          // given re-crawled documents that a manual/batch flow already
          // admitted into <ix>/fp and <ix>/sig under batch=<bid>, retire
          // each CHANGED page's history — old fingerprint tombstoned
          // (carrier-guarded), superseded signature rows version-floored
          // — so the admission state stays current-content-scale and a
          // later revert re-admits. The crawl daemon runs this per
          // snapshot automatically; this verb is for operator-driven
          // re-crawls outside it.
          import org.apache.spark.sql.functions.col
          val upDocs = spark.read.parquet(docsParquet)
          val n = graft.operators.IncrementalDedup.upsertAdmission(spark,
            s"$ixDir/fp", s"$ixDir/sig",
            upDocs.select(col("doc_id").as("id"),
              graft.operators.TextAnalysis.fingerprint(col("text")).as("fp")),
            bidStr.toLong)
          println(s"admission-upsert: $n changed page(s)' history retired " +
            s"in $ixDir (old fingerprints tombstoned, superseded " +
            "signatures floored; physical drop at the next compaction)")
        case "ann-delete" :: idsParquet :: indexDir :: Nil =>
          // tombstone-DELETE vec_ids from a persisted IVF / IVF-PQ index
          // (takedowns, re-filtering): queries stop surfacing them
          // immediately; the next ann-compact / ann-rebuild drops the rows
          // physically and clears the tombstones. Re-appending a
          // tombstoned id errors loudly until then (ivfDelete's re-add
          // contract — no silent duplicates, no silently hidden vectors).
          val n = graft.operators.Similarity.ivfDelete(spark, indexDir,
            spark.read.parquet(idsParquet), "vec_id")
          println(s"ann-delete: $n ids tombstoned in $indexDir " +
            "(physical drop at next compact/rebuild)")
        case "ann-upsert" :: inParquet :: indexDir :: Nil =>
          // re-embed / replace vectors by id in ONE leased commit (latest
          // version wins at read; compact/rebuild folds physically) — the
          // corpus-refresh verb: no takedown→compact→re-append three-step
          val n = graft.operators.Similarity.ivfUpsert(spark, indexDir,
            spark.read.parquet(inParquet), "vec_id", "embedding")
          println(s"ann-upsert: $n ids upserted in $indexDir " +
            "(latest version serves; physical fold at next compact/rebuild)")
        case "ann-compact" :: indexDir :: rest =>
          // coalesce append-grown cell files (write-then-swap; stop
          // appenders first — replaceDir's contract)
          val target = rest.headOption.map(_.toLong).getOrElse(4000000L)
          val n = graft.operators.Similarity.ivfCompact(spark, indexDir, target)
          println(s"ann-compact: $n vectors compacted -> $indexDir")
        case "ann-query" :: queriesParquet :: indexDir :: rest =>
          // layout-dispatched (Similarity.annQuery): composed indexes get
          // the codes-only ADC scan + exact re-rank, plain IVF the exact
          // cosine scan — the queries parquet is plural by the batched
          // contract, so a whole evaluation file is one call
          val k = rest.headOption.map(_.toInt).getOrElse(5)
          val nProbe = rest.drop(1).headOption.map(_.toInt).getOrElse(4)
          val rerank = rest.drop(2).headOption.map(_.toInt).getOrElse(100)
          graft.operators.Similarity.annQuery(spark, indexDir,
              spark.read.parquet(queriesParquet), "vec_id", "embedding",
              k, nProbe, rerank)
            .show(50, truncate = false)
          val kind0 = if (graft.operators.AnnMaintenance.isComposed(indexDir))
            "ivf-pq" else "ivf"
          println(s"ann-query: k=$k nProbe=$nProbe ($kind0) over $indexDir")
        case "ann-query-filtered" :: queriesParquet :: allowedParquet :: indexDir :: rest =>
          // filtered ANN: top-k among index rows whose vec_id appears in
          // the allowed parquet; raise nProbe with filter selectivity
          // (probes are chosen by the query alone — see ivfQueryFiltered).
          // Layout dispatch lives in the front door (Similarity
          // .annQueryFiltered): composed goes through the filtered ADC
          // pool, plain IVF scores directly.
          val k = rest.headOption.map(_.toInt).getOrElse(5)
          val nProbe = rest.drop(1).headOption.map(_.toInt).getOrElse(4)
          val rerank = rest.drop(2).headOption.map(_.toInt).getOrElse(50)
          graft.operators.Similarity.annQueryFiltered(spark, indexDir,
              spark.read.parquet(queriesParquet), "vec_id", "embedding",
              spark.read.parquet(allowedParquet), "vec_id", k, nProbe,
              math.max(rerank, k))
            .show(50, truncate = false)
          val kind = if (graft.operators.AnnMaintenance.isComposed(indexDir))
            "ivf-pq" else "ivf"
          println(s"ann-query-filtered: k=$k nProbe=$nProbe ($kind) over $indexDir")
        case "bpe" :: sfDir :: rest =>
          // tokenizer-merge training over the documents corpus; prints the
          // ranked merge list (the artifact a training run consumes).
          // --out <file> persists it for `pipeline --bpe-merges`.
          import org.apache.spark.sql.functions.col
          val outFile = rest.sliding(2).collectFirst { case Seq("--out", f) => f }
          if (rest.contains("--out") && outFile.isEmpty)
            sys.error("flag --out needs a value") // match splitFlags: a bare
          // trailing --out must fail loudly, not silently skip persistence
          val pos = {
            val i = rest.indexOf("--out")
            if (i < 0) rest else rest.patch(i, Nil, 2)
          }
          val nMerges = pos.headOption.map(_.toInt).getOrElse(32)
          val model = graft.operators.Bpe.train(
            graft.core.Tables.documents(spark, sfDir), col("text"), nMerges)
          model.merges.zipWithIndex.foreach { case ((a, b), i) =>
            println(f"$i%4d: $a + $b -> ${a + b}")
          }
          outFile.foreach(f => graft.operators.Bpe.saveMerges(model, f))
          println(s"bpe: learned ${model.merges.size} merges from $sfDir" +
            outFile.fold("")(f => s" -> $f"))
        case "lm-score" :: sfDir :: outDir :: Nil =>
          // corpus-fluency scoring (the perplexity-filter slot): writes the
          // four per-doc statistics for downstream filtering/bucketing
          import org.apache.spark.sql.functions.col
          graft.operators.LanguageModel.bigramFluency(
            graft.core.Tables.documents(spark, sfDir), col("doc_id"), col("text"))
            .write.mode("overwrite").parquet(outDir)
          println(s"lm-score: per-doc fluency statistics -> $outDir")
        case "warc" :: glob :: outDir :: Nil =>
          // crawl ingestion: WARC records (plain or .gz) -> parquet with
          // binary payloads; response bodies decoded downstream
          val df = graft.sources.WarcSource.readWarc(spark, glob)
          df.write.mode("overwrite").parquet(outDir)
          val back = spark.read.parquet(outDir)
          println(s"warc: ${back.count()} records " +
            s"(${back.where(org.apache.spark.sql.functions.col("truncated")).count()} truncated) -> $outDir")
        case "phrase" :: sfDir :: terms if terms.nonEmpty =>
          import org.apache.spark.sql.functions.col
          graft.operators.TextSearch.phraseCount(
            graft.core.Tables.documents(spark, sfDir), col("doc_id"), col("text"), terms)
            .orderBy(col("n_matches").desc, col("id")).show(20, truncate = false)
        case "pagerank" :: inPath :: outDir :: srcCol :: dstCol :: rest =>
          import org.apache.spark.sql.functions.col
          val iters = rest.headOption.map(_.toInt).getOrElse(8)
          val r = graft.operators.PageRank.pageRank(
            spark.read.parquet(inPath), col(srcCol), col(dstCol), iters = iters)
          r.ranks.write.mode("overwrite").parquet(outDir)
          println(s"pagerank: ${r.ranks.count()} nodes, $iters iterations, " +
            s"final delta ${r.deltas.last} -> $outDir")
        case "links" :: glob :: outDir :: rest =>
          // the full crawl composition: WARC records -> HTTP body text ->
          // href extraction -> host-graph edges (the pagerank/hits input)
          import org.apache.spark.sql.functions._
          val maxBytes = rest.headOption.map(_.toInt).getOrElse(8 * 1024 * 1024)
          val pages = graft.sources.WarcSource.readWarc(spark, glob, maxBytes)
            .where(col("warc_type") === "response" && !col("truncated"))
            .select(col("target_uri").as("page"),
              graft.operators.WebOps.httpBodyText(col("payload")).as("html"))
          val links = graft.operators.WebOps.linkEdges(pages, col("page"), col("html"))
          val edges = links.select(
            graft.operators.WebOps.host(col("id")).as("src_host"),
            col("url_host").as("dst_host"))
            .groupBy(col("src_host"), col("dst_host"))
            .agg(count(lit(1)).as("n_links"))
          edges.write.mode("overwrite").parquet(outDir)
          println(s"links: ${links.count()} links, ${edges.count()} host edges -> $outDir")
        case "hits" :: inPath :: outDir :: srcCol :: dstCol :: rest =>
          import org.apache.spark.sql.functions.col
          val iters = rest.headOption.map(_.toInt).getOrElse(8)
          val r = graft.operators.Hits.hits(
            spark.read.parquet(inPath), col(srcCol), col(dstCol), iters = iters)
          r.scores.write.mode("overwrite").parquet(outDir)
          val top = r.scores.orderBy(col("auth").desc, col("node")).limit(5)
            .collect().map(x => s"${x.getString(0)}=${x.getDecimal(2)}")
          println(s"hits: ${r.scores.count()} nodes, $iters iterations, " +
            s"final auth delta ${r.authDeltas.last}; top authorities: " +
            s"${top.mkString(", ")} -> $outDir")
        case "quantile" :: sfDir :: table :: colName :: rest =>
          import org.apache.spark.sql.functions.col
          val subBits = rest.headOption.map(_.toInt).getOrElse(4)
          val src =
            if (table == "events") graft.core.Tables.events(spark, sfDir)
            else graft.core.Tables.table(spark, sfDir, table)
          val sk = graft.operators.QuantileHist.sketch(src, col(colName), subBits)
            .localCheckpoint()
          val qs = Seq(1L -> 100L, 1L -> 4L, 1L -> 2L, 3L -> 4L, 99L -> 100L)
          graft.operators.QuantileHist.estimate(sk, qs, subBits)
            .orderBy(col("rank")).collect()
            .foreach(x => println(s"p${x.getLong(0) * 100 / x.getLong(1)}: " +
              s"rank ${x.getLong(2)} in [${x.getLong(3)}, ${x.getLong(4)}]"))
          println(s"quantile: ${sk.count()} buckets over $table.$colName " +
            s"(subBits=$subBits, rel err <= ${1.0 / (1 << subBits)})")
        case "gopher" :: sfDir :: outDir :: Nil =>
          // rule-chain curation filter with per-rule diagnostics: writes
          // survivors plus a dropped-report showing WHICH rule fired
          import org.apache.spark.sql.functions.col
          val docs = graft.core.Tables.documents(spark, sfDir)
          val rules = graft.operators.QualityRules.rules(col("text"))
          val flagged = docs.select(
            Seq(col("doc_id"), col("text")) ++
              rules.map { case (n, c) => c.as(n) } :+
              graft.operators.QualityRules.keep(col("text")).as("keep"): _*)
          flagged.where(col("keep")).drop("keep")
            .write.mode("overwrite").parquet(s"$outDir/kept")
          flagged.where(!col("keep")).drop("keep", "text")
            .write.mode("overwrite").parquet(s"$outDir/dropped_report")
          val kept = spark.read.parquet(s"$outDir/kept").count()
          println(s"gopher: ${docs.count()} docs -> $kept kept -> $outDir")
        case "split" :: sfDir :: outDir :: groupCol :: Nil =>
          // leakage-safe train/val/test partitioned write (whole groups land
          // in one split; downstream readers partition-prune on split=)
          import org.apache.spark.sql.functions.col
          graft.core.Tables.documents(spark, sfDir)
            .withColumn("split", graft.operators.Splits.assign(col(groupCol),
              Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
            .write.mode("overwrite").partitionBy("split").parquet(outDir)
          spark.read.parquet(outDir).groupBy("split").count()
            .orderBy("split").collect()
            .foreach(r => println(s"split: ${r.getString(0)} -> ${r.getLong(1)} docs"))
          println(s"split: leakage group = $groupCol -> $outDir")
        case "para-dedup" :: inPath :: outDir :: idCol :: textCol :: Nil =>
          import org.apache.spark.sql.functions.col
          val out = graft.operators.ParagraphDedup.dedupParagraphs(
            spark.read.parquet(inPath), col(idCol), col(textCol))
          out.write.mode("overwrite").parquet(outDir)
          val s = spark.read.parquet(outDir)
            .agg(org.apache.spark.sql.functions.sum(col("n_paras")),
              org.apache.spark.sql.functions.sum(col("n_kept"))).collect()(0)
          println(s"para-dedup: ${s.getLong(0)} paragraphs -> ${s.getLong(1)} kept -> $outDir")
        case "url-dedup" :: inPath :: outDir :: urlCol :: idCol :: Nil =>
          import org.apache.spark.sql.functions.col
          graft.operators.WebOps.dedupByCanonicalUrl(
            spark.read.parquet(inPath), col(urlCol), col(idCol))
            .write.mode("overwrite").parquet(outDir)
          val back = spark.read.parquet(outDir)
          val total = back.count()
          val kept = back.where(col("url_survivor")).count()
          println(s"url-dedup: $total rows, $kept canonical survivors -> $outDir")
        case "admit" :: inPath :: indexDir :: outDir :: idCol :: textCol :: rest =>
          // incremental corpus admission: dedup a new batch against the
          // persisted index (creating it on first run), write the admitted
          // rows and the FOLDED index back — the continuous-crawl loop
          // surface (IncrementalDedup). Default mode is exact (16-byte
          // fingerprint state); `near` switches to the MinHash-signature
          // index and LSH-banded near-dup admission (t104 semantics).
          import org.apache.spark.sql.functions.{col, md5}
          val near = rest.headOption.contains("near")
          val batch = spark.read.parquet(inPath)
          graft.operators.IndexLease.withLease(indexDir) {
          // heal a crashed swap BEFORE probing: if a prior admit died
          // between replaceDir's two renames, only `indexDir.old` remains
          // on disk — without recovery the exists probe reads false, the
          // command rebuilds from batch.limit(0), and its own swap's
          // deleteRecursive(.old) would permanently destroy the
          // accumulated admission index (the same destruction the IndexFs
          // probe fix closed, through the crash window instead of the URI)
          val idxRoot = graft.operators.IncrementalDedup.readRoot(indexDir)
          // IndexFs, NOT java.io.File: on an HDFS/S3 index URI a local-FS
          // probe reads false every run — the command would rebuild an
          // EMPTY index from batch.limit(0), mass-admit the whole batch,
          // and swapIndex would then REPLACE the real accumulated index
          // with the batch-only one (silent admission-state destruction).
          val indexExists = graft.operators.IndexFs.exists(indexDir)
          def swapIndex(updated: org.apache.spark.sql.DataFrame): Long = {
            // write-then-commit: the new index is fully written BESIDE the
            // live one, then committed as the next GENERATION — at every
            // instant at least one complete index exists on disk, and a
            // reader pinned to the previous generation survives the swap
            val next = s"$indexDir.next"
            updated.write.mode("overwrite").parquet(next)
            graft.operators.IncrementalDedup.commitGeneration(indexDir, next)
            spark.read.parquet(
              graft.operators.IncrementalDedup.readRoot(indexDir)).count()
          }
          // reads go through the LIVE view (tombstoned keys treated as
          // gone — deleteFingerprints' re-admission contract); since the
          // swap rewrites the WHOLE index from that live view, every
          // tombstone is physically resolved in the same commit and the
          // table correctly dies with the old dir
          if (near) {
            val index =
              if (indexExists) graft.operators.IncrementalDedup.liveIndex(
                spark, indexDir, spark.read.parquet(idxRoot), "id")
              else graft.operators.IncrementalDedup
                .buildSigIndex(batch.limit(0), col(idCol), col(textCol))
            val admitted = graft.operators.IncrementalDedup
              .admitNearDup(batch, index, idCol, textCol).localCheckpoint()
            admitted.write.mode("overwrite").parquet(outDir)
            val nIdx = swapIndex(
              graft.operators.IncrementalDedup.updatedSigIndex(index, admitted))
            println(s"admit[near]: ${batch.count()} in batch, ${admitted.count()} " +
              s"admitted -> $outDir; index now $nIdx signatures -> $indexDir")
          } else {
            val fp = md5(col(textCol))
            val index =
              if (indexExists) graft.operators.IncrementalDedup.liveIndex(
                spark, indexDir, spark.read.parquet(idxRoot), "fp")
              else graft.operators.IncrementalDedup.buildIndex(batch.limit(0), fp)
            val admitted = graft.operators.IncrementalDedup
              .admit(batch, index, fp, col(idCol)).localCheckpoint()
            admitted.write.mode("overwrite").parquet(outDir)
            val nIdx = swapIndex(
              graft.operators.IncrementalDedup.updatedIndex(index, admitted))
            println(s"admit: ${batch.count()} in batch, ${admitted.count()} admitted " +
              s"-> $outDir; index now $nIdx fingerprints -> $indexDir")
          }
          }
        case "mix" :: sfDir :: outDir :: recipe :: Nil =>
          // exact token-budget mix assembly (the t108 operator): admit, per
          // language, the maximal md5-ordered document prefix strictly
          // under the budget. recipe = "en:30000,de:9000,..."
          import org.apache.spark.sql.functions.{col, count, lit, sum}
          val budgets = recipe.split(",").toSeq.map { kv =>
            val Array(g, b) = kv.split(":", 2)
            g -> b.toLong
          }
          val out = graft.operators.Sampling.exactTokenBudgets(
            graft.core.Tables.documents(spark, sfDir),
            col("lang"), col("doc_id"), col("n_chars"), budgets)
          out.write.mode("overwrite").parquet(outDir)
          val bm = budgets.toMap
          spark.read.parquet(outDir).groupBy(col("lang"))
            .agg(count(lit(1)).as("rows"), sum(col("n_chars")).as("tokens"))
            .collect().sortBy(_.getString(0))
            .foreach(r => println(s"mix[${r.getString(0)}]: ${r.getLong(1)} docs, " +
              s"${r.getLong(2)} tokens (budget ${bm(r.getString(0))})"))
          println(s"mix: done -> $outDir")
        case "compact-index" :: indexDir :: rest =>
          // maintenance for the streaming admission loop's append-grown
          // delta indexes; kind selects the schema/resolution: sig (default,
          // id+signature), fp (distinct fingerprints), robots (latest policy
          // body per host). Stop the stream first (compactDeltaIndex
          // contract).
          val kind = rest.headOption.filter(Set("sig", "fp", "robots")).getOrElse("sig")
          val target = rest.drop(if (rest.headOption.exists(Set("sig", "fp", "robots"))) 1 else 0)
            .headOption.map(_.toLong).getOrElse(4000000L)
          val n = kind match {
            case "fp" => graft.operators.IncrementalDedup.compactFpIndex(spark, indexDir, target)
            case "robots" => graft.operators.IncrementalDedup.compactRobotsIndex(spark, indexDir, target)
            case _ => graft.operators.IncrementalDedup.compactSigIndex(spark, indexDir, target)
          }
          println(s"compact-index[$kind]: $n rows compacted -> $indexDir")
        case "extract" :: inPath :: outDir :: idCol :: textCol :: rest =>
          // within-document content extraction by line density (zero-shuffle
          // codegen'd projection; TextPipeline.extractContent)
          import org.apache.spark.sql.functions.{col, sum}
          val minLen = rest.headOption.map(_.toInt).getOrElse(30)
          val minPct = rest.drop(1).headOption.map(_.toInt).getOrElse(50)
          graft.operators.TextPipeline.extractContent(
              spark.read.parquet(inPath), col(idCol), col(textCol), minLen, minPct)
            .write.mode("overwrite").parquet(outDir)
          val s = spark.read.parquet(outDir)
            .agg(sum(col("n_kept")), sum(col("n_total"))).collect()(0)
          println(s"extract: kept ${s.getLong(0)} of ${s.getLong(1)} lines " +
            s"(minLen=$minLen, minAlnumPct=$minPct) -> $outDir")
        case "pipeline" :: warcGlob :: workDir :: rest =>
          // end-to-end crawl curation (WARC -> ... -> packed sequences),
          // sequenced through parquet checkpoints — see CrawlPipeline.
          // Positional: [agent] [capacity]. Flags: --index <dir> turns on
          // cross-snapshot admission against persisted fp/sig indexes;
          // --enrich <templateFile> appends the LLM-map stage (transport
          // resolved from the environment, mock when nothing is configured —
          // the reference's Program 1→2→3 chain in one command).
          val (flags, pos) = splitFlags(rest)
          val agent = pos.headOption.getOrElse("graftbot")
          val capacity = pos.drop(1).headOption.map(_.toLong).getOrElse(2048L)
          val enrich = flags.get("--enrich").map { tf =>
            graft.pipeline.CrawlPipeline.EnrichStage(
              () => graft.enrich.LlmTransports.fromEnvironment(),
              graft.operators.IndexFs.readUtf8(tf))
          }
          // --mix en:30000,de:9000 adds the dataset-assembly stages
          // (language tag → exact token-budget mix → training order);
          // --mix-mode repeat honors budgets ABOVE a language's supply by
          // epoch repetition (t124 semantics) instead of capping at the
          // supply; --bpe-merges <file> (the `bpe --out` artifact) sizes
          // budgets and packing bins in real tokenizer tokens
          val mix = flags.get("--mix").map(r =>
            parseMix(r).copy(repeat = parseMixMode(flags)))
          val counts = graft.pipeline.CrawlPipeline.run(
            spark, warcGlob, workDir, agent, capacity,
            indexDir = flags.get("--index"), enrichStage = enrich,
            mixStage = mix,
            packTokenizer = flags.get("--bpe-merges").map(graft.operators.Bpe.loadMerges),
            shards = flags.get("--shards").map(_.toInt),
            lexDir = flags.get("--lex"))
          counts.foreach(c => println(f"pipeline[${c.stage}]: ${c.rows} rows" +
            (if (c.seconds >= 0) f" (${c.seconds}%.1f s)" else "")))
          println(s"pipeline: done -> $workDir (agent=$agent, capacity=$capacity)")
        case "pipeline-stream" :: warcDir :: workDir :: indexDir :: rest =>
          // continuous-crawl daemon: new WARC files under warcDir are each
          // curated as one snapshot and admitted against the persisted
          // indexes (delta layout, replay-idempotent); runs until killed.
          // --compact-every <n> auto-compacts the delta indexes at the
          // start of every n-th batch (current batch preserved as a
          // delta); --mix / --bpe-merges configure the per-snapshot
          // dataset-assembly stages exactly as in `pipeline`
          val (flags, pos) = splitFlags(rest)
          val ce = flags.get("--compact-every").map(_.toInt)
          // 0 would divide-by-zero inside foreachBatch at the first batch
          // boundary — fail at the CLI, not minutes into the stream
          ce.foreach(n => require(n > 0, s"--compact-every must be > 0, got $n"))
          val agent = pos.headOption.getOrElse("graftbot")
          val capacity = pos.drop(1).headOption.map(_.toLong).getOrElse(2048L)
          val q = graft.pipeline.CrawlPipeline.runStream(
            spark, warcDir, workDir, indexDir, agent, capacity,
            compactEvery = ce,
            mixStage = flags.get("--mix").map(r =>
              parseMix(r).copy(repeat = parseMixMode(flags))),
            packTokenizer = flags.get("--bpe-merges")
              .map(graft.operators.Bpe.loadMerges),
            shards = flags.get("--shards").map(_.toInt),
            lexDir = flags.get("--lex"),
            onBatch = (id, cs) => cs.foreach(c =>
              println(f"pipeline-stream[batch=$id][${c.stage}]: ${c.rows} rows" +
                (if (c.seconds >= 0) f" (${c.seconds}%.1f s)" else ""))))
          q.awaitTermination()
        case "reset" :: workDir :: Nil =>
          // artifact reset (reference reset_project, setup_project.py:1145-1203);
          // confirmation is the host's job — this surface is non-interactive
          val n = graft.pipeline.ArtifactReset.reset(workDir)
          println(s"reset: deleted $n files under $workDir")
        case "sql" :: sfDir :: query :: Nil =>
          graft.core.Tables.all.foreach { t =>
            (if (t == "events") graft.core.Tables.events(spark, sfDir)
             else graft.core.Tables.table(spark, sfDir, t)).createOrReplaceTempView(t)
          }
          graft.expressions.GraftFunctions.register(spark)
          val t0 = System.nanoTime()
          val df = spark.sql(query)
          df.write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          df.show(20, truncate = false)
          println(f"sql: $secs%.2f s")
        case "export" :: sfDir :: table :: outDir :: partitionCol :: Nil =>
          val src =
            if (table == "events") graft.core.Tables.events(spark, sfDir)
            else graft.core.Tables.table(spark, sfDir, table)
          val back = graft.sinks.DataSinks.writePartitioned(src, outDir, Seq(partitionCol))
          println(s"export: ${back.count()} rows -> $outDir partitioned by $partitionCol")
        case "explain" :: sfDir :: names =>
          val sel = if (names.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted else names
          sel.foreach { n =>
            println(s"===== $n =====")
            graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
          }
        case "snapshot-plans" :: sfDir :: outDir :: names =>
          // Committed plan-shape snapshots: one normalized formatted plan per
          // registry query, so strategy changes (join types, exchanges,
          // pushed filters) show up as reviewable diffs rather than bench
          // noise. Expression ids (#123) and the per-plan codegen ids vary
          // run-to-run and are normalized out; paths are stable for a fixed
          // sfDir.
          // t100_sketch_stream_gate is EXCLUDED from the default sweep, by
          // design and not drift: its builder eagerly runs real micro-batches
          // through the state store (seconds of work per explain), and the
          // plans that matter are the PER-BATCH incremental plans inside
          // foreachBatch — the returned verdict frame is just assertion
          // scaffolding. plans/ therefore holds registry-minus-one snapshots.
          val streamingGates = Set("t100_sketch_stream_gate")
          val sel =
            if (names.isEmpty)
              graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(streamingGates)
            else names
          sel.foreach { n =>
            val df = graft.SparkEntry.queries(n)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            val normalized = plan
              .replaceAll("#\\d+L?", "#x")
              .replaceAll("plan_id=\\d+", "plan_id=x")
              .replaceAll("cachedrdd-\\d+", "cachedrdd-x")
              .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$x")
              .replaceAll("@[0-9a-f]{6,}", "@x")
              .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[x]")
              // HOF lambda variables draw from a session-global counter
              // (x_171 in a fresh session vs x_1 standalone) — scrub the
              // ordinal so snapshot diffs show plan changes, not history
              .replaceAll("\\b(lambda )?([a-z]+)_\\d+#x", "$1$2_n#x")
              // snapshots are sfDir-agnostic: the scan location's scale
              // factor is run configuration, not plan shape
              .replaceAll("file:[^\\s\\]]*testdata/sf[0-9.]+", "file:<SFDIR>")
              // gate fixtures build into per-run temp dirs — the random
              // path is run noise, not plan shape; without this every
              // sweep churned the ANN/manifest gate snapshots
              .replaceAll("file:/tmp/[^\\s\\]]*", "file:<TMP>")
              // checkpoint callsite line numbers shift with every edit to
              // the defining file — source drift, not plan shape
              .replaceAll("\\.scala:\\d+", ".scala:n")
            // Hadoop-FS write (parent dirs created implicitly); drop the
            // local-FS checksum sidecar — snapshots are reviewed text, not
            // data files
            graft.operators.IndexFs.writeUtf8(s"$outDir/$n.txt", normalized)
            graft.operators.IndexFs.deleteFile(s"$outDir/.$n.txt.crc")
          }
          println(s"snapshot-plans: ${sel.size} plans -> $outDir")
        case other =>
          // throw, don't sys.exit: run() is a public spec-driven surface
          // (specs and an embedding daemon call it with a shared session)
          // and exiting would kill the host JVM on any malformed arg list.
          // main() is the only process-exit authority (its catch below).
          throw new IllegalArgumentException(
            s"unknown command: ${other.mkString(" ")}\n" +
            "usage: markdown <csv> <tpl> <outDir> | enrich <inDir> <outMdDir> <outJsonDir> <promptTpl> [limit] | " +
              "enrich-stream <inDir> <outMdDir> <outJsonDir> <promptTpl> <ckpt> | site <csv> <mdDir> <tpl> <out.html> | " +
              "all <csv> <mdTpl> <promptTpl> <siteTpl> <workDir> | probe [.env] | dedup <sfDir> <outDir> [minhash|simhash|ngram] [best] | " +
              "prep <sfDir> <outDir> [window stride] | clean <sfDir> <outDir> [maxDupFrac minDistinctRatio] | " +
              "classify <sfDir> <outDir> [threshold] | profile <sfDir> <table> [cols...] | " +
              "drift <beforeParquet> <afterParquet> [cols...] | " +
              "dedup-sensitivity <sfDir> [minT den] | " +
              "mix-plan <sfDir> <lang:budget,...> [--bpe-merges <file>] | " +
              "filter-impact <sfDir> | rule-impact <sfDir> | manifest <dir> | manifest-verify <dir> [full|quick] | " +
              "zorder <in> <out> <colA> <colB> [files] | " +
              "compact <in> <out> [targetBytes] | frequent <sfDir> [k] | " +
              "bpe <sfDir> [merges] [--out <file>] | lm-score <sfDir> <outDir> | " +
              "gopher <sfDir> <outDir> | split <sfDir> <outDir> <groupCol> | " +
              "para-dedup <in> <outDir> <idCol> <textCol> | " +
              "warc <glob> <outDir> | phrase <sfDir> <terms...> | " +
              "pagerank <in> <outDir> <srcCol> <dstCol> [iters] | " +
              "hits <in> <outDir> <srcCol> <dstCol> [iters] | " +
              "links <warcGlob> <outDir> [maxPayloadBytes] | " +
              "quantile <sfDir> <table> <col> [subBits] | " +
              "url-dedup <in> <outDir> <urlCol> <idCol> | stress <sfDir> <workDir> [factor] | " +
              "admit <in> <indexDir> <outDir> <idCol> <textCol> [near] | " +
              "compact-index <indexDir> [sig|fp|robots] [targetRows] | " +
              "admission-maintain <indexDir> [fp|sig] [maxTombstoneFraction] | " +
              "admission-upsert <ixDir> <docsParquet> <batchId> | " +
              "shards <sfDir> <outDir> [nShards] [epoch] | " +
              "shards-read <dir> <from> <to> [full|quick|off] | " +
              "ann-build <sfDir> <indexDir> [nCells] | ann-append <inParquet> <indexDir> | " +
              "ann-upsert <inParquet> <indexDir> | ann-compact <indexDir> [targetRows] | ann-rebuild <indexDir> [nCells [m nCodes]] | " +
              "ann-recall <indexDir> [k nProbe nQueries] | index-status <dir> | " +
              "hybrid-search <sfDir> <annIndexDir> <outDir> <queryVecId> [--lex <lexIndexDir>] [--filter <allowedParquet>] <terms...> | " +
              "hybrid-search-many <sfDir> <annIndexDir> <lexIndexDir> <queryFile> <outDir> [--filter <allowedParquet>] | " +
              "lex-build <sfDir> <indexDir> [nBuckets] [raw|folded] [positions|nopositions] | lex-append <in> <indexDir> <idCol> <textCol> | " +
              "lex-upsert <in> <indexDir> <idCol> <textCol> | lex-maintain <indexDir> [maxTombstoneFraction] | lex-search <indexDir> <k> <terms...> | " +
              "ann-query <queriesParquet> <indexDir> [k] [nProbe] | " +
              "ann-query-filtered <queriesParquet> <allowedParquet> <indexDir> [k] [nProbe] [rerank] | " +
              "ann-pq-build <sfDir> <indexDir> [nCells] [m] [nCodes] [residual|raw] | " +
              "ann-maintain <indexDir> [maxRatio] [sustain] [recallFloor|-] [nCells|-] [mixtureTv|-] [tombstoneFrac|-] [upsertFrac|-] | " +
              "ann-pq-append <inParquet> <indexDir> | " +
              "ann-pq-query <queriesParquet> <indexDir> [k] [nProbe] [rerank] | " +
              "mix <sfDir> <outDir> <lang:budget,...> | " +
              "extract <in> <outDir> <idCol> <textCol> [minLen minAlnumPct] | " +
              "sql <sfDir> <query> | export <sfDir> <table> <outDir> <partCol> | explain <sfDir> [names...] | " +
              "snapshot-plans <sfDir> <outDir> [names...] | " +
              "pipeline <warcGlob> <workDir> [agent] [capacity] [--index <dir>] [--lex <lexIndexDir>] [--enrich <templateFile>] " +
              "[--mix <lang:budget,...>] [--mix-mode exact|repeat] [--bpe-merges <file>] [--shards <n>] | " +
              "pipeline-stream <warcDir> <workDir> <indexDir> [agent] [capacity] [--lex <lexIndexDir>] [--compact-every <n>] " +
              "[--mix <lang:budget,...>] [--bpe-merges <file>] [--shards <n>] | reset <workDir>")
      }
    }
  }
}
