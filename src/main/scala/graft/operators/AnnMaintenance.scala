package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closes the ANN drift→rebuild loop as POLICY, not supervision.
  *
  * The repo already produces every number the decision needs:
  * [[Similarity.IvfAppendStats.driftRatio]] (each append's mean assigned
  * distance vs the build baseline — the cheap per-append signal),
  * [[Similarity.indexRecall]] (ground-truth recall of the index's own
  * query path — the expensive confirmation), and the rebuild arcs
  * ([[Similarity.ivfRebuild]] / [[ProductQuantizer.ivfPqRebuild]] — both
  * behind the staging + atomic-swap discipline). What was missing is the
  * operator that CHAINS them, so an index a daemon appends to decays into
  * a rebuild instead of decaying unobserved.
  *
  * Usage: route appends through [[append]] (it dispatches on the layout
  * and records each drift reading in `indexDir/drift_log` — a one-row
  * parquet per append, the ledger discipline), then call [[maintain]]
  * after each batch (or on the daemon's cadence). `maintain` rebuilds iff
  *  - the last `sustainAppends` SPREAD readings ALL exceed `maxDriftRatio`
  *    (sustained drift — one hot batch is not a trend), or
  *  - the last `sustainAppends` cell-mixture total-variation readings ALL
  *    exceed `maxMixtureTv` (CONCENTRATION drift — the failure shape the
  *    distance ratio saturates on; see [[Similarity.IvfAppendStats]]), or
  *  - `recallFloor` is set and [[Similarity.indexRecall]] reads below it
  *    (measured only when the cheap signals did not already decide —
  *    recall costs a brute-force pass over the index at `nQueries`
  *    query rows).
  * The rebuild runs behind [[IncrementalDedup.replaceDir]]'s swap, which
  * replaces the WHOLE index dir — so the drift log resets with the stats
  * baseline, exactly right: post-rebuild appends measure against
  * quantizers that have seen everything. Stop appenders while maintaining
  * (the rebuild arcs' existing contract).
  *
  * Scale shape: the log is one tiny row per append, read driver-side
  * (`sustainAppends`-bounded tail); the decision adds NOTHING to the
  * append path beyond that row's write. The rebuild itself is the
  * already-audited build: capped quantizer fits + one assignment pass.
  */
object AnnMaintenance {

  /** @param maxDriftRatio  sustained SPREAD-drift threshold (rule of thumb
    *                       1.5 — [[Similarity.IvfAppendStats]]'s contract)
    * @param sustainAppends how many consecutive over-threshold appends
    *                       constitute a trend (>= 1)
    * @param maxMixtureTv   sustained CONCENTRATION-drift threshold on the
    *                       cell-mixture total-variation (None disables).
    *                       The second sensor exists because the distance
    *                       ratio SATURATES on unit-space layouts — a
    *                       batch can sit as close to centroids as the
    *                       build did while landing in a couple of cells
    *                       (see [[Similarity.IvfAppendStats]])
    * @param recallFloor    optional ground-truth gate: measure
    *                       [[Similarity.indexRecall]] and rebuild below it
    * @param recallK        k for the recall measurement
    * @param recallNProbe   nProbe for the recall measurement
    * @param recallQueries  query-sample size (driver-scale — bounds the
    *                       brute-force side)
    * @param rebuildNCells  cell count for the rebuilt coarse quantizer;
    *                       None = keep the current count (grow ~sqrt(N)
    *                       as the corpus accumulates)
    * @param maxTombstoneFraction tombstone-PRESSURE sensor (None
    *                       disables): when the tombstoned fraction of the
    *                       index exceeds this, run the layout-appropriate
    *                       COMPACT (physical resolve — no quantizer
    *                       retrain). Without it a takedown-heavy index
    *                       pays the read-side broadcast anti-join over an
    *                       ever-growing tombstone set forever — the
    *                       maintenance loop was drift-aware but
    *                       tombstone-blind. A rebuild (if the drift
    *                       sensors fired the same call) subsumes the
    *                       compact: both physically resolve deletions
    * @param maxUpsertFraction UPSERT-pressure sensor (None disables):
    *                       when the `upserts/` delta holds more VERSION
    *                       rows than this fraction of the base cells,
    *                       run the compact — every query pays the
    *                       latest-version window over the whole delta
    *                       ([[Similarity.liveRows]]), so a
    *                       re-embed-heavy corpus without operator-cadence
    *                       compaction would grow that cost unobserved
    *                       (the tombstone sensor's exact failure shape
    *                       on the upsert verb). Both counts are
    *                       parquet-footer reads; version rows and
    *                       deletion markers both count (both ride the
    *                       window), which can only fire EARLY
    * @param keepGenerations generation-grace depth handed to every
    *                       compact/rebuild this policy fires
    *                       ([[IncrementalDedup.commitGeneration]]'s
    *                       `keep`): the newest `keepGenerations`
    *                       generations stay on disk, so a reader
    *                       survives `keepGenerations - 1` concurrent
    *                       maintenance commits mid-query. Default 2 (one
    *                       swap of grace); raise it for indexes serving
    *                       multi-hour queries under frequent maintenance
    */
  final case class MaintenancePolicy(
      maxDriftRatio: Double = 1.5,
      sustainAppends: Int = 3,
      maxMixtureTv: Option[Double] = Some(0.5),
      recallFloor: Option[Double] = None,
      recallK: Int = 5,
      recallNProbe: Int = 4,
      recallQueries: Int = 16,
      rebuildNCells: Option[Int] = None,
      maxTombstoneFraction: Option[Double] = Some(0.25),
      maxUpsertFraction: Option[Double] = Some(0.25),
      keepGenerations: Int = 2) {
    require(maxDriftRatio > 0 && sustainAppends >= 1)
    require(maxMixtureTv.forall(t => t > 0 && t <= 1))
    require(maxTombstoneFraction.forall(t => t > 0 && t < 1))
    require(maxUpsertFraction.forall(t => t > 0))
    require(keepGenerations >= 1)
  }

  /** The decision trace: what was looked at, what (if anything) fired. */
  final case class MaintenanceDecision(
      appendsLogged: Long,
      recentRatios: Seq[Double],
      sustainedDrift: Boolean,
      measuredRecall: Option[Double],
      rebuilt: Boolean,
      reason: String,
      recentMixtureTv: Seq[Double] = Seq.empty,
      sustainedMixture: Boolean = false,
      tombstoneFraction: Option[Double] = None,
      compacted: Boolean = false,
      upsertFraction: Option[Double] = None)

  /** Layout dispatch + ledger probes resolve through the Hadoop
    * FileSystem API ([[IndexFs]]): with a local-only probe, a composed
    * index on an HDFS/S3 URI would read as plain IVF and [[append]] would
    * write cell rows WITHOUT codes — silent corruption. Public so the CLI
    * dispatch shares exactly this resolution.
    */
  def isComposed(indexDir: String): Boolean =
    IndexFs.exists(s"${IncrementalDedup.readRoot(indexDir)}/pq_model")

  /** Append through the layout-appropriate arc and RECORD the drift
    * reading in `indexDir/drift_log` — the ledger [[maintain]] reads.
    *
    * SINGLE-WRITER contract (the index layout's own append contract): one
    * lifecycle writer at a time — ENFORCED since round 17 by the index
    * writer lease ([[IndexLease]]): append, [[maintain]] (whose ledger
    * fold rewrites the log this method appends to), compact, rebuild and
    * delete all acquire `<indexDir>._lease`, so a daemon's append can no
    * longer interleave with a concurrent maintain's fold — the loser
    * fails loudly instead. The sequence number is `max(seq) + 1` over the
    * existing log — NOT the row count, so a partially failed append
    * (cells written, ledger write crashed, then retried) can never mint a
    * duplicate seq and make [[maintain]]'s recency tail nondeterministic;
    * a retry simply takes the next number.
    */
  def append(spark: SparkSession, indexDir: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Similarity.IvfAppendStats =
      IndexLease.withLease(indexDir) {
    val st =
      if (isComposed(indexDir))
        ProductQuantizer.ivfPqAppend(spark, indexDir, newVectors, idCol, vecCol)
      else Similarity.ivfAppend(spark, indexDir, newVectors, idCol, vecCol)
    import spark.implicits._
    // the ledger lives inside the generation the append just extended
    val logRoot = s"${IncrementalDedup.readRoot(indexDir)}/drift_log"
    IncrementalDedup.recoverDir(logRoot) // crashed ledger fold
    val seq =
      if (IndexFs.exists(logRoot)) {
        val m = spark.read.parquet(logRoot)
          .agg(max(col("seq"))).head()
        if (m.isNullAt(0)) 0L else m.getLong(0) + 1L
      } else 0L
    Seq((seq, st.n, st.meanL2sq, st.baselineMeanL2sq, st.driftRatio,
        st.mixtureTv))
      .toDF("seq", "n", "mean_l2sq", "baseline_mean_l2sq", "ratio",
        "mixture_tv")
      .coalesce(1)
      .write.mode("append").parquet(logRoot)
    st
  }

  /** Decide — and if warranted, EXECUTE — a rebuild (drift/recall
    * sensors) or a compact (tombstone-pressure sensor; see
    * [[MaintenancePolicy.maxTombstoneFraction]]). Returns the full
    * decision trace either way; when `rebuilt` is true the index behind
    * `indexDir` is already the re-trained one (same layout encoding,
    * fresh stats baseline, empty drift log); when `compacted` is true the
    * deletions are physically resolved and the tombstone table is gone.
    */
  def maintain(spark: SparkSession, indexDir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceDecision =
      IndexLease.withLease(indexDir) {
    val root = IncrementalDedup.readRoot(indexDir)
    import spark.implicits._
    val logDir = s"$root/drift_log"
    IncrementalDedup.recoverDir(logDir) // crashed ledger fold from a prior run
    val hasLog = IndexFs.exists(logDir)
    // ledger hygiene: every append lands one tiny parquet file and a
    // daemon appending per snapshot accumulates thousands — which THIS
    // read then pays for, forever. Past a small file budget, fold the
    // whole (one-row-per-append) log into one file behind the usual
    // staged swap; rows are untouched, so the recency tail below reads
    // the same. [[Similarity.ivfCompact]] carries the ledger the same
    // way, so neither maintenance path unbounds the other's file count.
    // The fold is a read-modify-write of a table [[append]] appends to —
    // safe because BOTH run under the index writer lease ([[IndexLease]],
    // acquired by this method's wrapper): a daemon appending concurrently
    // fails loudly at acquire instead of losing its row to the swap.
    if (hasLog && IndexFs.fileNames(logDir).count(_.endsWith(".parquet")) > 16) {
      val snap = spark.read.parquet(logDir).localCheckpoint()
      IncrementalDedup.clearStaging(s"$logDir.next")
      snap.coalesce(1).write.parquet(s"$logDir.next")
      IncrementalDedup.replaceDir(logDir, s"$logDir.next")
    }
    val logDf = if (hasLog) Some(spark.read.parquet(logDir))
      else None
    val log = logDf.map { df =>
      // tolerate pre-mixture ledgers: the column joined the schema later
      val tv = if (df.columns.contains("mixture_tv")) col("mixture_tv")
        else lit(null).cast("double").as("mixture_tv")
      df.orderBy(col("seq").desc).limit(policy.sustainAppends)
        .select(col("seq"), col("ratio"), tv)
        .as[(Long, Option[Double], Option[Double])].collect().toSeq
    }.getOrElse(Seq.empty)
    val appends = logDf.map(_.count()).getOrElse(0L)
    val ordered = log.sortBy(_._1)
    val recent = ordered.flatMap(_._2)
    val recentTv = ordered.flatMap(_._3)
    def sustainedOver(xs: Seq[Double], threshold: Double): Boolean =
      appends >= policy.sustainAppends &&
        xs.size == policy.sustainAppends && xs.forall(_ > threshold)
    val sustained = sustainedOver(recent, policy.maxDriftRatio)
    val sustainedMix = policy.maxMixtureTv
      .exists(t => sustainedOver(recentTv, t))

    // ground truth only when the cheap signals did not already decide
    val recall =
      if (!sustained && !sustainedMix && policy.recallFloor.isDefined)
        Some(Similarity.indexRecall(spark, indexDir, policy.recallK,
          policy.recallNProbe, policy.recallQueries))
      else None
    val recallLow = (for {f <- policy.recallFloor; r <- recall} yield r < f)
      .getOrElse(false)

    // tombstone-PRESSURE sensor: every query pays a broadcast anti-join
    // over `tombstones` until something physically resolves it, and the
    // table grows with every takedown batch — so maintenance, not the
    // operator, must notice. Both counts are parquet-footer metadata
    // reads (no data pages); the fraction slightly overcounts when a
    // tombstone names an id the index never held (harmless tombstoning),
    // which only makes the compact EARLIER, never missed.
    val tsDir = s"$root/tombstones"
    val tombstoneFraction: Option[Double] = policy.maxTombstoneFraction
      .flatMap { _ =>
        IncrementalDedup.recoverDir(tsDir)
        if (!IndexFs.exists(tsDir)) None
        else {
          val nTs = spark.read.parquet(tsDir).count()
          if (nTs == 0L) None
          else Some(nTs.toDouble /
            math.max(1L, spark.read.parquet(s"$root/cells").count()))
        }
      }
    val tombstonePressure = (for {
      t <- policy.maxTombstoneFraction; f <- tombstoneFraction
    } yield f > t).getOrElse(false)

    // upsert-PRESSURE sensor: every query resolves latest-version-wins
    // over the WHOLE upsert delta, so its size is a per-query cost that
    // only a physical fold relieves — same posture as the tombstone
    // sensor, measured the same way (footer counts only)
    val upDir = s"$root/upserts"
    val upsertFraction: Option[Double] = policy.maxUpsertFraction
      .flatMap { _ =>
        IncrementalDedup.recoverDir(upDir)
        if (!IndexFs.exists(upDir)) None
        else {
          val nUp = spark.read.parquet(upDir).count()
          if (nUp == 0L) None
          else Some(nUp.toDouble /
            math.max(1L, spark.read.parquet(s"$root/cells").count()))
        }
      }
    val upsertPressure = (for {
      t <- policy.maxUpsertFraction; f <- upsertFraction
    } yield f > t).getOrElse(false)

    if (sustained || sustainedMix || recallLow) {
      // a rebuild re-writes LIVE rows only, so it subsumes the compact:
      // tombstones resolve physically and the table dies with the old dir
      val nCells = policy.rebuildNCells.getOrElse(
        spark.read.parquet(s"$root/centroids").count().toInt)
      val n =
        if (isComposed(indexDir))
          ProductQuantizer.ivfPqRebuild(spark, indexDir, nCells,
            keepGenerations = policy.keepGenerations)
        else Similarity.ivfRebuild(spark, indexDir, nCells,
          keepGenerations = policy.keepGenerations)
      val why =
        if (sustained)
          f"drift ratio > ${policy.maxDriftRatio}%.2f sustained over " +
            s"${policy.sustainAppends} appends"
        else if (sustainedMix)
          f"cell-mixture tv > ${policy.maxMixtureTv.get}%.2f sustained over " +
            s"${policy.sustainAppends} appends (concentration drift — the " +
            "distance ratio alone would have missed it)"
        else f"measured recall ${recall.get}%.3f < floor " +
          f"${policy.recallFloor.get}%.3f"
      MaintenanceDecision(appends, recent, sustained, recall, rebuilt = true,
        reason = s"$why; rebuilt $n vectors",
        recentMixtureTv = recentTv, sustainedMixture = sustainedMix,
        tombstoneFraction = tombstoneFraction,
        upsertFraction = upsertFraction)
    } else if (tombstonePressure || upsertPressure) {
      // drift is healthy but deletions/re-embeds piled up: physical
      // resolve only — ivfCompact is layout-generic (cells rewritten
      // live-rows-only with the upsert delta folded,
      // centroids/pq_model/stats/ledger carried, tombstone table and
      // delta cleared by the generation commit), so the next maintain
      // sees neither and is a no-op
      val n = Similarity.ivfCompact(spark, indexDir,
        keepGenerations = policy.keepGenerations)
      val why =
        if (tombstonePressure)
          f"tombstoned fraction ${tombstoneFraction.get}%.3f > " +
            f"${policy.maxTombstoneFraction.get}%.2f"
        else
          f"upsert-delta fraction ${upsertFraction.get}%.3f > " +
            f"${policy.maxUpsertFraction.get}%.2f"
      MaintenanceDecision(appends, recent, sustained, recall,
        rebuilt = false,
        reason = s"$why — compacted (physical resolve), $n live vectors",
        recentMixtureTv = recentTv, sustainedMixture = sustainedMix,
        tombstoneFraction = tombstoneFraction, compacted = true,
        upsertFraction = upsertFraction)
    } else {
      MaintenanceDecision(appends, recent, sustained, recall,
        rebuilt = false,
        reason = if (appends < policy.sustainAppends)
          s"only $appends append(s) logged (need ${policy.sustainAppends})"
        else "drift not sustained" + recall.map(r =>
          f"; recall $r%.3f >= floor").getOrElse(""),
        recentMixtureTv = recentTv, sustainedMixture = sustainedMix,
        tombstoneFraction = tombstoneFraction,
        upsertFraction = upsertFraction)
    }
  }
}
