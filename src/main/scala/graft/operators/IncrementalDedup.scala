package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental corpus admission: dedup a NEW batch of documents against a
  * persisted fingerprint index built from everything already admitted, then
  * fold the survivors into the index — the shape a continuously-crawling
  * 100 TB pipeline actually runs (each crawl snapshot dedups against the
  * accumulated corpus; nothing recomputes history). Reference analog: the
  * incremental skip of already-processed inputs in
  * `/root/reference/src/program2_ai_processor.py` (P9/J2), lifted from
  * file-name granularity to content-fingerprint granularity.
  *
  * Scale design:
  *  - The index carries ONLY fingerprints (16-byte md5 per distinct
  *    document) — at 10^10 documents that is a few hundred GB of state,
  *    storable as plain parquet and equi-joinable, while the documents
  *    themselves never re-enter the job.
  *  - Admission is one LEFT ANTI equi-join on the fingerprint (AQE handles
  *    skew; a hot fingerprint IS a mass-duplicate and collapses anyway)
  *    plus one hash aggregation for first-wins within the batch. The
  *    within-batch step uses `min_by` under a `groupBy` — NOT a ranking
  *    window — so duplicates collapse map-side before the shuffle; a crawl
  *    batch with a viral page duplicated 10^6 times shuffles one row per
  *    partition for it, not 10^6.
  *  - `updatedIndex` is a union + distinct of fingerprints only; persisted
  *    back, it makes the next batch's admission independent of this one's
  *    inputs.
  *
  * The streaming twin is [[graft.streaming.StreamingOps.dedupDocsStream]]:
  * its flatMapGroupsWithState seen-set plays the index role across
  * micro-batches with the same first-wins admission semantics, and a
  * batch/stream equivalence spec pins the two together (StreamingSpec).
  */
object IncrementalDedup {

  /** Fingerprint index of an already-admitted corpus: one row per distinct
    * content fingerprint, column `fp`.
    */
  def buildIndex(df: DataFrame, fp: Column): DataFrame =
    df.select(fp.as("fp")).distinct()

  /** Admit the batch rows whose fingerprint is not in the index, keeping
    * the first row (by `orderCol`, which must be unique) per fingerprint
    * within the batch. All caller columns survive, plus `fp` (a caller
    * column already named `fp` is superseded by the admission
    * fingerprint — emitting both would be a duplicate column no sink can
    * write).
    */
  def admit(batch: DataFrame, index: DataFrame, fp: Column,
      orderCol: Column): DataFrame = {
    val cols = batch.columns.filterNot(_ == "fp")
    val fresh = batch
      .withColumn("fp", fp)
      .join(index.select(col("fp")), Seq("fp"), "left_anti")
    // first-wins as an argmin aggregation: min_by over the row struct keyed
    // by the (unique) order column — partial-aggregates map-side, unlike a
    // row_number window which must co-locate every duplicate before ranking
    fresh
      .groupBy(col("fp"))
      .agg(min_by(struct(cols.map(col): _*), orderCol).as("__row"))
      .select(col("fp") +: cols.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** The index after folding in an admitted batch (`admit` output or any
    * frame carrying `fp`). Persist this; it replaces the old index.
    */
  def updatedIndex(index: DataFrame, admitted: DataFrame): DataFrame =
    index.select(col("fp")).union(admitted.select(col("fp"))).distinct()

  // ------------------------------------------------------- near-dup variant

  /** MinHash signature index of an already-admitted corpus: (id, sig) with
    * sig = array<bigint> of length k — the state a 100 TB crawl can
    * actually persist for NEAR-dup admission (k longs per document; the
    * shingle sets themselves never need to be stored or recomputed).
    * Similarity is measured in signature space throughout this family:
    * matches/k (graft_sig_match_count) is the standard unbiased Jaccard
    * estimate, deterministic given the signatures.
    */
  def buildSigIndex(df: DataFrame, idCol: Column, textCol: Column,
      shingleWords: Int = 3, k: Int = 32): DataFrame =
    df.select(idCol.as("id"),
      graft.expressions.GraftFunctions
        .minhashSig(textCol, shingleWords, k).as("sig"))

  /** The signature index after folding in an `admitNearDup` result (which
    * carries `id` and `sig`).
    */
  def updatedSigIndex(sigIndex: DataFrame, admitted: DataFrame): DataFrame =
    sigIndex.select(col("id"), col("sig"))
      .unionByName(admitted.select(col("id"), col("sig")))

  // -------------------------------------------------------- index deletion

  /** Generic tombstone layer shared by every persisted index family (the
    * ANN cell layouts via [[Similarity.ivfDelete]], the fp/sig admission
    * delta indexes via [[deleteFingerprints]]/[[deleteSignatureIds]]):
    * a small keys-only parquet table beside the layout that reads
    * anti-join (broadcast — deletion sets are small relative to an
    * index) and compactions/rebuilds physically resolve. Deleting is an
    * APPEND of keys; clearing (re-admission) is a staged+swapped rewrite,
    * healed by the same `recoverDir` discipline as every other swap.
    *
    * @return number of distinct keys in this delete batch
    */
  private[graft] def appendTombstones(spark: org.apache.spark.sql.SparkSession,
      tsDir: String, keys: DataFrame, keyCol: String): Long = {
    recoverDir(tsDir)
    val del = keys.select(col(keyCol)).distinct().localCheckpoint()
    val n = del.count()
    if (n > 0) {
      del.coalesce(1).write.mode("append").parquet(tsDir)
      // ledger hygiene (the drift_log discipline): every delete batch
      // lands one file and EVERY read pays the listing+footer overhead
      // forever — past a small budget, fold the whole table to one
      // distinct-keys file behind the usual staged swap. Runs under the
      // caller's index lease (the public delete surfaces hold it), so no
      // concurrent takedown can land inside the read-modify-write.
      // file-count check via a pure fs listing: `spark.read.parquet(tsDir)
      // .inputFiles` paid a footer-read/schema-inference Spark job PER
      // DELETE BATCH just to count files (round-21 OptProbe: 18 such jobs
      // inside t134's takedown loop); the tombstone dir is flat, so the
      // name listing counts the same part files for free
      if (IndexFs.fileNames(tsDir).count(_.endsWith(".parquet")) > 16) {
        val snap = spark.read.parquet(tsDir).select(col(keyCol)).distinct()
          .localCheckpoint()
        clearStaging(s"$tsDir.next")
        snap.coalesce(1).write.parquet(s"$tsDir.next")
        replaceDir(tsDir, s"$tsDir.next")
      }
    }
    n
  }

  /** The LIVE view: `df` minus the tombstoned keys (a no-op plan when no
    * tombstone table exists). Heals a crashed tombstone-rewrite swap
    * first — its crash window leaves no live table but a complete
    * `.old`, and without the rollback every deleted key would silently
    * resurface.
    */
  private[graft] def applyTombstones(spark: org.apache.spark.sql.SparkSession,
      tsDir: String, df: DataFrame, keyCol: String): DataFrame = {
    recoverDir(tsDir)
    if (!IndexFs.exists(tsDir)) df
    else df.join(
      broadcast(spark.read.parquet(tsDir).select(col(keyCol)).distinct()),
      Seq(keyCol), "left_anti")
  }

  /** Remove `keys` from a tombstone table (re-added rows become live
    * again). Callers run this AFTER the re-adding write lands — a crash
    * between the two leaves the new rows hidden and the write's replay
    * heals; the reverse order could resurrect keys whose rows never
    * landed.
    */
  private[graft] def removeTombstones(spark: org.apache.spark.sql.SparkSession,
      tsDir: String, keys: DataFrame, keyCol: String): Unit = {
    recoverDir(tsDir)
    if (!IndexFs.exists(tsDir)) return
    // Snapshot the FILE SET, not just the rows: this is a read-modify-
    // write rewrite, and a takedown batch appended between the snapshot
    // read and the swap must not be silently un-deleted (the takedown
    // reported success — discarding it is the exact resurface failure
    // ivfDelete's guard exists to prevent). Only the snapshot's keys are
    // subtracted; files that arrive during the rewrite are carried into
    // the new table VERBATIM. The residual window (an append between the
    // late-file listing and replaceDir's renames) is closed by the index
    // writer lease ([[IndexLease]]), which every public delete/readmit
    // surface holds.
    val snapFiles = IndexFs.fileNames(tsDir).filter(_.endsWith(".parquet"))
    if (snapFiles.isEmpty) return // no tombstones recorded — nothing to clear
    val remaining = spark.read
      .parquet(snapFiles.map(f => s"$tsDir/$f"): _*)
      .select(col(keyCol)).distinct()
      .join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      .localCheckpoint()
    clearStaging(s"$tsDir.next")
    remaining.coalesce(1).write.parquet(s"$tsDir.next")
    val late = IndexFs.fileNames(tsDir)
      .filter(f => f.endsWith(".parquet") && !snapFiles.contains(f))
    late.foreach(f => IndexFs.rename(s"$tsDir/$f", s"$tsDir.next/$f"))
    if (late.isEmpty && remaining.isEmpty) {
      // fully cleared: drop the table so reads keep their no-op plan
      clearStaging(s"$tsDir.next")
      IndexFs.deleteRecursive(tsDir)
    } else replaceDir(tsDir, s"$tsDir.next")
  }

  /** Tombstone-DELETE fingerprints from a persisted exact-admission index
    * (takedowns / re-filtering): the keys land in `dir/_tombstones` — the
    * `_` prefix keeps the table invisible to the index's own `batch=`
    * partition discovery — and [[liveIndex]] (which the crawl pipeline's
    * index reads go through) anti-joins it, so [[admit]] treats the
    * fingerprint as GONE and a re-crawled page re-admits (which in turn
    * clears the tombstone — the pipeline's re-admission contract). The
    * delta compactor physically drops tombstoned rows.
    */
  def deleteFingerprints(spark: org.apache.spark.sql.SparkSession,
      fpDir: String, fps: DataFrame): Long = IndexLease.withLease(fpDir) {
    appendTombstones(spark, s"${readRoot(fpDir)}/_tombstones", fps, "fp")
  }

  /** [[deleteFingerprints]]'s near-dup sibling: tombstone signature rows
    * by document id in the persisted signature index.
    */
  def deleteSignatureIds(spark: org.apache.spark.sql.SparkSession,
      sigDir: String, ids: DataFrame): Long = IndexLease.withLease(sigDir) {
    appendTombstones(spark, s"${readRoot(sigDir)}/_tombstones", ids, "id")
  }

  /** The LIVE view of a persisted admission index: `index` (the caller's
    * read of `dir`) minus the tombstoned keys (`fp` for the exact index,
    * `id` for the signature index). Every admission read goes through
    * this, so deletion has one definition.
    */
  def liveIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      index: DataFrame, keyCol: String): DataFrame =
    applyTombstones(spark, s"${readRoot(dir)}/_tombstones", index, keyCol)

  /** Clear tombstones for re-admitted keys — called by the pipeline after
    * a batch's delta lands, so a re-crawled page's fingerprint counts
    * again from the next snapshot on.
    */
  def readmitKeys(spark: org.apache.spark.sql.SparkSession, dir: String,
      keys: DataFrame, keyCol: String): Unit = IndexLease.withLease(dir) {
    removeTombstones(spark, s"${readRoot(dir)}/_tombstones", keys, keyCol)
  }

  // -------------------------------------- admission upsert (the re-crawl)

  /** Append version-FLOOR entries `(id, below)` to a floors ledger: index
    * rows of `id` in a delta batch `< below` are hidden at read
    * ([[applyVersionFloors]]) and physically dropped at compaction — the
    * [[graft.operators.LexIndex]] versioned-ledger discipline applied to
    * the signature admission index, where a re-crawled CHANGED page lands
    * a NEW (id, sig) row beside its old one and a plain id-keyed
    * tombstone would hide both. Floors only ever rise (max `below` per id
    * wins), so appends are idempotent under replay; the same >16-file
    * fold bounds the ledger's small-file growth.
    */
  private[graft] def appendFloors(spark: org.apache.spark.sql.SparkSession,
      floorsDir: String, entries: DataFrame): Unit = {
    recoverDir(floorsDir)
    val add = entries.select(col("id"), col("below").cast("long"))
      .localCheckpoint()
    if (add.isEmpty) return
    add.coalesce(1).write.mode("append").parquet(floorsDir)
    if (IndexFs.fileNames(floorsDir).count(_.endsWith(".parquet")) > 16) {
      val snap = spark.read.parquet(floorsDir)
        .groupBy(col("id")).agg(max(col("below")).as("below"))
        .localCheckpoint()
      clearStaging(s"$floorsDir.next")
      snap.coalesce(1).write.parquet(s"$floorsDir.next")
      replaceDir(floorsDir, s"$floorsDir.next")
    }
  }

  /** The floor-aware view of a sig-index read: rows whose `batch` sits
    * below their id's floor are superseded versions of a changed page
    * and must not participate in admission. No-op when no floors ledger
    * exists; requires the `batch` column when one does (every delta read
    * carries it — floors are only written in delta mode).
    */
  private[graft] def applyVersionFloors(
      spark: org.apache.spark.sql.SparkSession, floorsDir: String,
      df: DataFrame, idCol: String): DataFrame = {
    recoverDir(floorsDir)
    if (!IndexFs.exists(floorsDir)) df
    else {
      require(df.columns.contains("batch"),
        "version floors exist but the read carries no batch column — " +
          "floors are delta-mode state and every delta read is " +
          "batch-partitioned")
      val floors = spark.read.parquet(floorsDir)
        .groupBy(col("id")).agg(max(col("below")).as("__below"))
        .withColumnRenamed("id", idCol)
      df.join(broadcast(floors), Seq(idCol), "left")
        .where(col("__below").isNull ||
          col("batch").cast("long") >= col("__below"))
        .drop("__below")
    }
  }

  /** UPSERT hygiene for the admission indexes — the re-crawl verb the fp
    * and sig tiers lacked (ANN and lexical both gained theirs in round
    * 19): when the daemon re-admits a CHANGED page (same doc id, new
    * content), the page's PREVIOUS fingerprint is tombstoned and its
    * previous signature rows are floored, so the admission state stays
    * CURRENT-CONTENT-scale instead of accumulating every historical
    * version forever — and a page that REVERTS to prior content is a
    * DECIDED case, not an accident of layout: the old fingerprint is
    * gone from the live index, so the revert re-admits exactly like any
    * other change (admission always compares against the CURRENT corpus
    * content, never history).
    *
    * Mechanics: a `_carriers` ledger beside the fp index records
    * `(id, fp)` per admitted batch (`_`-prefixed — invisible to the
    * index's own partition discovery; replay overwrites its own
    * `batch=<bid>` dir). A changed id is one whose latest prior carrier
    * row holds a different fp; its old fp is tombstoned ONLY if that fp's
    * latest carrier is this id (content that was re-admitted under
    * another id after a takedown belongs to that id now — tombstoning it
    * would hide the other page's live content). Old sig rows are hidden
    * by a floor entry `(id, below = bid)` rather than an id tombstone —
    * a plain tombstone would hide the NEW row too. Crash windows: every
    * step is append/overwrite-idempotent, so a replay of the same batch
    * re-derives the same hygiene; a crash between the delta landing and
    * this call leaves the old version visible for one snapshot (the
    * pre-upsert behavior) and the replay heals.
    *
    * @param admitted this batch's admitted rows carrying `id` and `fp`
    * @param bid      the snapshot/batch id the deltas landed under
    * @return number of changed ids whose history was retired
    */
  def upsertAdmission(spark: org.apache.spark.sql.SparkSession,
      fpDir: String, sigDir: String, admitted: DataFrame,
      bid: Long): Long = {
    val idFp = admitted.select(col("id"), col("fp")).distinct()
      .localCheckpoint()
    val fpRoot = readRoot(fpDir)
    val carDir = s"$fpRoot/_carriers"
    recoverDir(carDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("batch").cast("long").desc)
    val changed =
      if (!IndexFs.exists(carDir)) None
      else {
        val carriers = spark.read.parquet(carDir)
        // latest PRIOR carrier per re-admitted id (batch < bid keeps a
        // replay's own crashed write out of its own comparison); the
        // broadcast semi-join keeps everything delta-scale
        val prior = carriers.where(col("batch").cast("long") < bid)
          .join(broadcast(idFp.select(col("id"))), Seq("id"), "left_semi")
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
        val cand = prior.select(col("id"), col("fp").as("__old_fp"))
          .join(idFp, Seq("id"))
          .where(col("__old_fp") =!= col("fp"))
          .select(col("id"), col("__old_fp").as("fp"))
        // only retire an fp whose CURRENT carrier is the changing id
        val wf = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("batch").cast("long").desc)
        val curCarrier = carriers
          .join(broadcast(cand.select(col("fp")).distinct()),
            Seq("fp"), "left_semi")
          .withColumn("__rn", row_number().over(wf))
          .where(col("__rn") === 1)
          .select(col("fp"), col("id").as("__cur_id"))
        Some(cand.join(curCarrier, Seq("fp"))
          .where(col("id") === col("__cur_id"))
          .select(col("id"), col("fp")).localCheckpoint())
      }
    val nChanged = changed.map(_.count()).getOrElse(0L)
    if (nChanged > 0) {
      deleteFingerprints(spark, fpDir, changed.get.select(col("fp")))
      IndexLease.withLease(sigDir) {
        appendFloors(spark, s"${readRoot(sigDir)}/_floors",
          changed.get.select(col("id"), lit(bid).as("below")))
      }
    }
    IndexLease.withLease(fpDir) {
      idFp.write.mode("overwrite").parquet(s"$carDir/batch=$bid")
    }
    nChanged
  }

  /** Replace the directory at `liveDir` with the fully-written `nextDir`:
    * rename the live dir ASIDE to `liveDir.old`, rename `nextDir` in, then
    * delete the old copy — at every instant at least one complete index
    * exists in the store. INDEX-ROOT swaps use [[commitGeneration]]
    * instead (reader-safe: a mid-scan query survives the swap); this
    * legacy form remains for the small LEDGER rewrites (tombstone folds,
    * the drift-log fold, the dataset manifest) — one-file tables swapped
    * in milliseconds under the writer lease, where a per-rewrite
    * generation would tax every listing for a window no real scan can
    * straddle. A crash between the two renames leaves no live
    * dir but BOTH `liveDir.old` (the previous index, intact) and `nextDir`
    * (the new index, complete) for one-rename recovery; the earlier
    * delete-then-move discipline destroyed the old index BEFORE the new
    * one was in place, so that same crash window lost everything.
    *
    * All filesystem touches go through [[IndexFs]] (the Hadoop FileSystem
    * API), so the swap works on whatever store the index URI names —
    * HDFS/S3/`file:` — not just the local disk (IndexFsSpec drives the
    * whole lifecycle through `file:`-scheme URIs).
    */
  def replaceDir(liveDir: String, nextDir: String): Unit = {
    val old = s"$liveDir.old"
    IndexFs.deleteRecursive(old) // stale leftover from a previous crashed swap
    if (IndexFs.exists(liveDir)) IndexFs.rename(liveDir, old)
    IndexFs.rename(nextDir, liveDir)
    IndexFs.deleteRecursive(old)
  }

  // ------------------------------------------------- generation pinning

  /** Generation-dir prefix. Generation dirs are IMMUTABLE once committed
    * ([[commitGeneration]] renames a fully-written staging dir in and
    * never touches it again), `_`-prefixed so Spark's data-source
    * discovery ignores them on a raw read of the index root, and ordered
    * by their numeric suffix — the LIVE generation is simply the max.
    */
  private val GenPrefix = "_gen_"

  /** Committed generation numbers on disk, oldest first (public for the
    * CLI's index-status view; operators use [[readRoot]]).
    */
  def generations(liveDir: String): Seq[Long] =
    IndexFs.subdirNames(liveDir).filter(_.startsWith(GenPrefix))
      .map(_.stripPrefix(GenPrefix).toLong).sorted

  /** Resolve the READ/WRITE root of a persisted index: the newest
    * committed generation dir when the index has been generation-swapped
    * ([[commitGeneration]]), else the index dir itself (fresh builds and
    * never-compacted indexes keep their tables at the root). Every index
    * reader and in-place writer resolves ONCE per operation and uses the
    * returned root for all its table paths — that is the pin: a
    * maintenance swap committing generation k+1 never touches generation
    * k's files (it is retired only when k+2 commits), so a query that
    * resolved before the swap completes against its pinned generation
    * with PRE-swap answers instead of dying on renamed-away files.
    */
  def readRoot(liveDir: String): String = {
    recoverDir(liveDir)
    generations(liveDir).lastOption
      .map(g => s"$liveDir/$GenPrefix$g").getOrElse(liveDir)
  }

  /** Commit the fully-written `nextDir` as the next GENERATION of
    * `liveDir` — the reader-safe whole-index swap ([[replaceDir]]'s
    * successor for index roots): one atomic rename makes
    * `liveDir/_gen_<k+1>` appear complete, readers resolve max-generation
    * at query start ([[readRoot]]), and retirement keeps a CONFIGURABLE
    * grace window — the newest `keep` generations stay on disk, so with
    * the default `keep = 2` generation j is deleted only when j+2
    * commits and a reader pinned to the previous generation survives any
    * single concurrent compact/rebuild (the reader-vs-swap race the
    * rename-aside swap had: its second rename moved the files a mid-scan
    * query had already planned against). A reader outliving `keep` swaps
    * mid-query is out of grace by contract — operators running
    * multi-hour queries against an index under frequent maintenance
    * raise `keep` (each extra generation costs one retired copy's disk,
    * no wall-clock in the layout); `keep = 1` is the no-grace legacy
    * [[replaceDir]] semantics and exists only for spaces where readers
    * are provably quiesced.
    *
    * Pre-generational indexes convert on their first commit: the root
    * tables become the implicit previous generation (they stay in place —
    * a reader pinned to the root survives the converting swap) and are
    * retired when the SECOND generation commits. Crash windows: the
    * rename either happened or did not (no torn state to heal); a crash
    * during retirement leaves partially-deleted OLD generations that no
    * reader resolves (max wins) and the next commit re-retires. The
    * tombstone-LEDGER rewrites ([[appendTombstones]]'s fold,
    * [[removeTombstones]]) deliberately keep the legacy [[replaceDir]]:
    * they are one-file tables swapped in milliseconds under the writer
    * lease, and a per-rewrite generation would litter every query's
    * listing for a window no real scan can straddle.
    */
  def commitGeneration(liveDir: String, nextDir: String,
      keep: Int = 2): Unit = {
    require(keep >= 1, s"keep must be >= 1 (got $keep)")
    recoverDir(liveDir) // heal pre-generational crash residue first
    // normalize staging that was itself built generationally (a rebuild
    // staging built by a fresh `build` call): commit its RESOLVED root,
    // never a nested _gen_ dir
    val src = readRoot(nextDir)
    if (!IndexFs.exists(liveDir)) {
      IndexFs.rename(src, liveDir)
      if (src != nextDir) IndexFs.deleteRecursive(nextDir)
      return
    }
    val k = generations(liveDir).lastOption.getOrElse(0L) + 1L
    IndexFs.rename(src, s"$liveDir/$GenPrefix$k")
    if (src != nextDir) IndexFs.deleteRecursive(nextDir)
    // retire out-of-grace generations: keep the newest `keep`
    generations(liveDir).filter(_ < k - (keep - 1))
      .foreach(g => IndexFs.deleteRecursive(s"$liveDir/$GenPrefix$g"))
    // the implicit root generation (pre-conversion tables) is out of
    // grace once `keep` real generations exist — retire its table dirs
    // AND its plain files (flat-file layouts write part-files at the
    // root; the lease marker is a SIBLING of liveDir, never inside it,
    // so no metadata is in the blast radius)
    if (k >= keep) {
      IndexFs.subdirNames(liveDir).filterNot(_.startsWith(GenPrefix))
        .foreach(d => IndexFs.deleteRecursive(s"$liveDir/$d"))
      IndexFs.fileNames(liveDir)
        .foreach(f => IndexFs.deleteFile(s"$liveDir/$f"))
    }
  }

  /** Recover from a [[replaceDir]] crash window before rebuilding: a crash
    * between the swap's two renames leaves NO live dir but a complete
    * `liveDir.old` — roll BACK to it (the `.next` of that crashed swap is
    * deleted by the caller and rebuilt deterministically, so rolling back
    * re-derives the exact state the crashed run was committing). A stale
    * `.old` BESIDE an intact live dir (crash after the second rename,
    * before the cleanup delete) is simply removed.
    */
  def recoverDir(liveDir: String): Unit = {
    val old = s"$liveDir.old"
    if (!IndexFs.exists(liveDir) && IndexFs.exists(old))
      IndexFs.rename(old, liveDir)
    else IndexFs.deleteRecursive(old)
  }

  /** Delete a staging dir outright (a stale `.next` from a crashed run —
    * left on disk by design, see [[replaceDir]]; the rebuild starts clean).
    */
  def clearStaging(dir: String): Unit =
    IndexFs.deleteRecursive(dir)

  /** Tombstone-PRESSURE maintenance for a persisted ADMISSION index — the
    * [[graft.operators.AnnMaintenance.maintain]] tombstone sensor applied
    * to the delta-index family. Takedowns accumulate in `_tombstones` and
    * every admission read pays the broadcast anti-join until something
    * physically resolves them; re-admission clears per key, but a
    * takedown-heavy corpus whose pages are never re-crawled keeps paying
    * forever. Past `maxTombstoneFraction` of the index's rows, run the
    * layout's compactor ([[compactFpIndex]] / [[compactSigIndex]] — they
    * drop tombstoned rows physically and clear the table); below it, do
    * nothing. Both counts are parquet-footer metadata reads; the fraction
    * can only OVERCOUNT (a tombstone naming a key the index never held,
    * or not-yet-folded duplicate keys), which fires the compact early,
    * never misses it. Writer-quiesced like every compaction (the
    * compactor holds the index lease; racing deltas are fold-preserved by
    * its own discipline).
    *
    * @param kind "fp" or "sig" — the index's schema family
    * @return true iff pressure fired and the index was compacted
    */
  def maintainAdmissionIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, kind: String,
      maxTombstoneFraction: Double = 0.25): Boolean = {
    require(kind == "fp" || kind == "sig", s"kind must be fp|sig, got '$kind'")
    require(maxTombstoneFraction > 0 && maxTombstoneFraction < 1)
    val root = readRoot(indexDir)
    val tsDir = s"$root/_tombstones"
    recoverDir(tsDir)
    // floors (superseded versions of changed pages) are read-side join
    // work exactly like tombstones — both count toward the pressure
    val floorsDir = s"$root/_floors"
    recoverDir(floorsDir)
    val nFloors =
      if (kind == "sig" && IndexFs.exists(floorsDir))
        spark.read.parquet(floorsDir).count()
      else 0L
    if (!IndexFs.exists(tsDir) && nFloors == 0) return false
    val nTs = (if (IndexFs.exists(tsDir))
      spark.read.parquet(tsDir).count() else 0L) + nFloors
    if (nTs == 0) return false
    val rows =
      try spark.read.parquet(root).count()
      catch { // an all-empty delta index has no footers — nothing to compact
        case ae: org.apache.spark.sql.AnalysisException
            if ae.getCondition == "UNABLE_TO_INFER_SCHEMA" => return false
      }
    if (nTs.toDouble / math.max(1L, rows) <= maxTombstoneFraction) false
    else {
      if (kind == "fp") compactFpIndex(spark, indexDir)
      else compactSigIndex(spark, indexDir)
      true
    }
  }

  /** Maintenance for an APPEND-grown signature index
    * ([[graft.streaming.StreamingOps.admitNearDupStream]] adds one
    * `batch=<id>` delta per micro-batch): rewrite the accumulated deltas as
    * one compact table sized to `targetRows` per file, then swap it in via
    * [[replaceDir]] (a killed compaction never leaves less than one
    * complete index on disk). Without this a long-running stream degrades
    * every future micro-batch with thousands-of-tiny-files scan overhead —
    * the same small-file failure mode the generic layout compactor exists
    * for, specialized to the index's (id, sig) schema and swap discipline.
    *
    * The compacted table is written UNDER `batch=-1` so the directory
    * layout stays uniformly partition-style: Spark's partition discovery
    * silently ignores root-level data files once `batch=<id>` subdirs
    * reappear, so a root-file compact layout would make the ENTIRE
    * compacted corpus index invisible to admission after the stream's next
    * delta — every historical near-dup would be silently re-admitted.
    * (-1 can never collide with a real micro-batch id.)
    *
    * Deltas that land DURING the compaction (a racing micro-batch) are
    * detected by diffing the `batch=` listing after the snapshot and are
    * carried into the new layout unmodified rather than deleted. The one
    * remaining race is a delta written between the two swap renames —
    * stop the stream (or pause triggers) while compacting to close it.
    *
    * @return number of signatures in the compacted index
    */
  def compactSigIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetRows: Long = 4_000_000L,
      preserveBatchIds: Set[Long] = Set.empty): Long =
    compactDeltaIndex(spark, indexDir,
      df => applyVersionFloors(spark,
          s"${readRoot(indexDir)}/_floors", df, "id")
        .select(col("id"), col("sig")),
      targetRows, preserveBatchIds,
      tombstoneKey = Some("id"))
    // the floors ledger is fully resolved by the fold above and dies
    // with the retired generation (it is deliberately NOT carried: the
    // folded rows land under batch=-1, which any surviving floor would
    // wrongly hide; preserved current-batch deltas sit at the floor
    // maximum and are never floored)

  /** Compaction for a FINGERPRINT delta index (`fp` per row, grown one
    * `batch=<id>` dir per crawl snapshot by the pipeline's delta-mode
    * admission): the set union collapses to distinct fingerprints. Same
    * layout and swap discipline as [[compactSigIndex]].
    */
  def compactFpIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetRows: Long = 64_000_000L,
      preserveBatchIds: Set[Long] = Set.empty): Long =
    compactDeltaIndex(spark, indexDir,
      _.select(col("fp")).distinct(), targetRows, preserveBatchIds,
      tombstoneKey = Some("fp"),
      // the carriers ledger ([[upsertAdmission]]) must SURVIVE the swap
      // or every future change of an affected page silently reverts to
      // accumulate-forever; folded to the latest carrier row per id, it
      // stays current-corpus-scale
      sideFold = Map("_carriers" -> { carriers =>
        val wc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("batch").cast("long").desc)
        carriers.withColumn("__rn", row_number().over(wc))
          .where(col("__rn") === 1).select(col("id"), col("fp"))
      }))

  /** Compaction for the ROBOTS-policy delta index ((host, text) per row,
    * one delta per crawl snapshot): resolution is latest-batch-wins per
    * host, and the compacted rows land under `batch=-1` — strictly below
    * every real batch id, so deltas appended after the compaction still win
    * their hosts at read time.
    */
  def compactRobotsIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetRows: Long = 4_000_000L,
      preserveBatchIds: Set[Long] = Set.empty): Long =
    compactDeltaIndex(spark, indexDir, df =>
      if (df.columns.contains("batch"))
        df.groupBy(col("host")).agg(max_by(col("text"), col("batch")).as("text"))
      else df.select(col("host"), col("text")), targetRows, preserveBatchIds)

  /** Shared delta-compaction core: read the whole `batch=`-partitioned
    * index, collapse it with `resolve`, rewrite as one compact table under
    * `batch=-1`, and swap it in via [[replaceDir]]. See [[compactSigIndex]]
    * for the layout rationale (root-level files beside `batch=` subdirs are
    * silently invisible to partition discovery — the compacted table MUST
    * stay partition-style) and the mid-compaction-delta fold-preserve.
    *
    * `preserveBatchIds`: deltas that must survive AS DELTAS — excluded from
    * the compacted read AND carried into the new layout unmodified. This is
    * how a streaming caller compacts safely from INSIDE foreachBatch for
    * batch N (the only point with no concurrent delta writers): folding
    * batch N's own delta (left by a crashed earlier attempt) into
    * `batch=-1` would defeat the replay guard — the replay excludes
    * `batch=N` but not the compacted table, so every previously admitted
    * row would self-match and the batch would wipe its own outputs.
    *
    * `tombstoneKey`: when set, tombstoned keys (`dir/_tombstones` — see
    * [[deleteFingerprints]]) are PHYSICALLY dropped from the compacted
    * table. The tombstone table is then cleared with the old dir —
    * unless deltas were fold-preserved (racing or `preserveBatchIds`):
    * those rows never saw the anti-join, so the table is carried into
    * the new layout and keeps applying at read until the next
    * writer-quiesced compaction resolves it.
    *
    * @return number of rows in the compacted index
    */
  def compactDeltaIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, resolve: DataFrame => DataFrame,
      targetRows: Long, preserveBatchIds: Set[Long] = Set.empty,
      tombstoneKey: Option[String] = None,
      keepGenerations: Int = 2,
      sideFold: Map[String, DataFrame => DataFrame] = Map.empty): Long =
      IndexLease.withLease(indexDir) {
    val root = readRoot(indexDir)
    def batchDirs(): Set[String] =
      IndexFs.subdirNames(root).filter(_.startsWith("batch=")).toSet
    val snapshot = batchDirs()
    val preserved = snapshot.filter(d =>
      preserveBatchIds.contains(d.stripPrefix("batch=").toLong))
    val rawOpt =
      try Some(spark.read.parquet(root))
      catch {
        // an index whose deltas all hold zero rows has no parquet footers
        // to infer from — nothing to compact, not corruption (the daemon
        // writes a batch=<id> delta even for a snapshot that admitted
        // nothing); any other read failure still propagates
        case ae: org.apache.spark.sql.AnalysisException
            if ae.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }
    if (rawOpt.isEmpty) 0L else {
    val raw = rawOpt.get
    val scoped =
      if (preserved.nonEmpty && raw.columns.contains("batch"))
        raw.where(!col("batch").isin(preserveBatchIds.toSeq: _*))
      else raw
    // deletions resolve here: tombstoned keys never reach the compacted
    // table (liveIndex's read-time anti-join made permanent)
    val live = tombstoneKey.fold(scoped)(k => liveIndex(spark, root, scoped, k))
    val index = resolve(live).localCheckpoint()
    val n = index.count()
    val files = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    val next = s"$indexDir.compact"
    IndexFs.deleteRecursive(next)
    index.repartition(files).write.parquet(s"$next/batch=-1")
    // fold-preserve deltas a racing micro-batch appended after the snapshot
    // plus the explicitly preserved ones: they were not part of the
    // compacted read, so deleting them with the old dir would silently lose
    // those docs' rows
    val folded = (batchDirs() -- snapshot) ++ preserved
    folded.foreach { d =>
      IndexFs.rename(s"$root/$d", s"$next/$d")
    }
    // side LEDGERS that must survive the swap, folded (e.g. the fp
    // index's `_carriers`): written into staging BEFORE the commit, so a
    // crash can never lose them — they ride the same atomic rename as
    // the index itself
    sideFold.foreach { case (name, fold) =>
      if (IndexFs.exists(s"$root/$name"))
        fold(spark.read.parquet(s"$root/$name")).coalesce(1)
          .write.parquet(s"$next/$name/batch=-1")
    }
    // fold-preserved deltas bypassed the tombstone anti-join — keep the
    // table applying at read; with no preserved deltas it is fully
    // resolved and dies with the old dir
    if (folded.nonEmpty && tombstoneKey.isDefined &&
        IndexFs.exists(s"$root/_tombstones"))
      IndexFs.rename(s"$root/_tombstones", s"$next/_tombstones")
    commitGeneration(indexDir, next, keepGenerations)
    n
    }
  }

  /** NEAR-dup incremental admission: reject batch documents whose signature
    * similarity to an already-admitted document reaches `minMatches` of `k`
    * (e.g. 26/32 ≈ Jaccard 0.8), then keep one representative (min id) per
    * near-dup cluster WITHIN the surviving batch. Candidate generation is
    * LSH banding on both steps — the only pairs ever scored are band
    * collisions, so the work is near-linear in the batch; the admission
    * contract is therefore "banded candidates scored exactly in signature
    * space" (an LSH band miss can admit a borderline pair — the standard
    * recall trade every production near-dedup makes; exact duplicates can
    * NEVER slip through, since identical signatures collide in every band).
    *
    * Scale shape: bands of the (small) batch join bands of the (large)
    * index on (band position, band hash) — an equi-join whose index side
    * can be bucketed by band hash on disk; signatures are re-attached only
    * to surviving candidates. Within-batch clustering runs star-contraction
    * over the batch's own collision graph. History work is O(batch
    * collisions), never O(corpus).
    *
    * @param maxBandPostings hot-band guard for BOTH banded steps: a
    *        (band position, band hash) bucket holding MORE than this many
    *        distinct-signature postings — index-side in the cross step,
    *        survivor-side in the within-batch self-join — is dropped from
    *        banded candidate generation. Such a bucket means the band carries ~no information
    *        for a degenerate corpus slice (boilerplate/short texts collapsing
    *        onto one band hash) — and joining the batch against it is the one
    *        place admission cost could leave O(batch collisions). Safety:
    *        identical signatures are rejected by a direct full-signature
    *        equi-join BEFORE banding (immune to the cap — so the "exact dups
    *        can NEVER slip through" theorem survives any cap value), and
    *        index-side identical signatures are pre-collapsed to one
    *        representative (lossless: the match score is a function of the
    *        signature alone), so the cap only thins genuinely-distinct
    *        near-dup candidates in pathological buckets — recall there
    *        degrades gracefully while the join stays bounded by
    *        |batch bucket| * maxBandPostings per bucket.
    * @return the admitted rows (all caller columns + `sig`); fold them into
    *         the index with [[updatedSigIndex]].
    */
  def admitNearDup(batch: DataFrame, sigIndex: DataFrame, idCol: String,
      textCol: String, shingleWords: Int = 3, k: Int = 32, nBands: Int = 8,
      minMatches: Int = 26, maxBandPostings: Long = 1L << 17): DataFrame = {
    require(k % nBands == 0, s"k must split into bands, got k=$k bands=$nBands")
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches in [1,$k], got $minMatches")
    require(maxBandPostings >= 1, s"maxBandPostings >= 1, got $maxBandPostings")
    val cols = batch.columns
    val bs = batch.select(
      struct(cols.map(col): _*).as("__row"), col(idCol).as("id"),
      graft.expressions.GraftFunctions
        .minhashSig(col(textCol), shingleWords, k).as("sig"))
    def explodeBands(df: DataFrame): DataFrame =
      df.select(col("id"),
        posexplode(DedupOps.bands(col("sig"), nBands, k / nBands))
          .as(Seq("band_idx", "band_hash")))
    val simOk = graft.expressions.GraftFunctions
      .sigMatchCount(col("sig_a"), col("sig_b")) >= minMatches

    // index side: ONE representative per distinct signature before banding —
    // the same lossless pre-collapse the within-batch step runs (the score
    // is a function of the signature, so any member decides for the group),
    // here killing the degenerate case where the index holds 10^6 identical
    // signatures whose postings would all land in every shared bucket
    val iReps = sigIndex.select(col("id"), col("sig"))
      .groupBy(col("sig")).agg(min(col("id")).as("id"))
    // theorem guard, immune to the postings cap below: a batch doc whose
    // FULL signature already exists in the index is rejected via one
    // equi-join on the signature itself (identical sigs score k/k >=
    // minMatches by construction — banding was only ever a candidate
    // generator for this case)
    val sigHit = bs.select(col("id"), col("sig"))
      .join(iReps.select(col("sig")), Seq("sig"), "left_semi")
      .select(col("id"))

    // cross step: batch band -> index band, exact signature score on the
    // collisions only; one distinct id set of rejected batch docs
    val bBands = explodeBands(bs)
      .select(col("id").as("bid"), col("band_idx"), col("band_hash"))
    val iBands = explodeBands(iReps)
      .select(col("id").as("iid"), col("band_idx"), col("band_hash"))
    // hot-band guard (see @param maxBandPostings): the bucket census is one
    // partial-aggregated pass over hashes, and the semi-join keeps postings
    // of surviving buckets only
    val keptBuckets = iBands.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("__n")).where(col("__n") <= maxBandPostings)
      .select(col("band_idx"), col("band_hash"))
    val iBandsCapped =
      iBands.join(keptBuckets, Seq("band_idx", "band_hash"), "left_semi")
    val rejected = bBands.join(iBandsCapped, Seq("band_idx", "band_hash"))
      .select(col("bid"), col("iid")).distinct()
      .join(bs.select(col("id").as("bid"), col("sig").as("sig_a")), Seq("bid"))
      .join(iReps.select(col("id").as("iid"), col("sig").as("sig_b")), Seq("iid"))
      .where(simOk)
      .select(col("bid").as("id"))
      .union(sigHit).distinct()
    // materialized: the survivor frame feeds the within-batch band
    // self-join, the cluster node list and the final representative join —
    // without the checkpoint the cross-index anti-join re-executes once per
    // consumer (star contraction alone reads it three times)
    val survivors = bs.join(rejected, Seq("id"), "left_anti").localCheckpoint()

    // within-batch step: collision graph among survivors, min-id per cluster.
    // Identical signatures are collapsed to ONE min-id representative per
    // distinct sig BEFORE band explosion (map-side-combining min under a
    // groupBy): m exact copies of a viral page would otherwise band-collide
    // into m^2 candidate pairs before the distinct — 10^12 join rows for a
    // doc duplicated 10^6 times in one batch. The collapse is lossless:
    // identical sigs agree in every band and score k/k, so each member is a
    // near-dup of its representative by construction, and the final keeper
    // (the min id of its component) is always a sig-group minimum — members
    // can never win representative selection, so clustering the
    // representatives alone decides the admitted set exactly.
    val sReps = survivors.groupBy(col("sig")).agg(min(col("id")).as("id"))
    val sBands = explodeBands(sReps)
    // batch-side hot-band guard, the within-batch twin of the cross-step
    // census: sReps holds DISTINCT signatures only (identical sigs are
    // pre-collapsed above), so a bucket with > maxBandPostings postings is
    // 10^5+ distinct-but-banding-hot variants — a templated degenerate
    // batch — whose self-join would be quadratic in the bucket. The cap
    // drops such buckets from candidate generation. Safety contract: the
    // exact-dup theorem is untouched (identical sigs never reach this join —
    // each sig group is one rep, and members rejoin their rep's component
    // unconditionally); what degrades is RECALL among distinct-sig near-dups
    // inside a capped bucket, gracefully — they may land in separate
    // clusters and both be admitted, never mis-rejected. A capped bucket's
    // pairs can still surface through the doc's other nBands-1 bands.
    val sKept = sBands.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("__n")).where(col("__n") <= maxBandPostings)
      .select(col("band_idx"), col("band_hash"))
    val sBandsCapped = sBands.join(sKept, Seq("band_idx", "band_hash"), "left_semi")
    val pairs = sBandsCapped.alias("a")
      .join(sBandsCapped.alias("b"), Seq("band_idx", "band_hash"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .where(col("id_a") < col("id_b")).distinct()
      .join(sReps.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sReps.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .where(simOk)
      .select(col("id_a"), col("id_b"))
    val comps = DedupClusters.connectedComponentsStars(
      sReps.select(col("id")), pairs, "id")
    survivors.join(comps, Seq("id"))
      .where(col("id") === col("component"))
      // `id`/`sig` are the admission outputs (updatedSigIndex's contract);
      // a caller column with either name is superseded rather than emitted
      // as a duplicate column no sink can write (the common case is the
      // batch's id column being literally named `id`)
      .select(col("id") +: col("sig") +:
        cols.filterNot(c => c == "id" || c == "sig")
          .map(c => col(s"__row.$c").as(c)): _*)
  }
}
