package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * The tiers, from exact to fastest (round-13: production path designated
  * from the GateProbe recall sweep):
  *  - [[bruteForceTopK]] — the exact oracle; right answer, full scan.
  *  - [[ivfTopK]] / [[ivfBuild]]+[[ivfQuery]] — **the production ANN
  *    path**: k-means coarse quantization, recall governed by
  *    nProbe/nCells, and the persisted layout reads only the probed
  *    cells from disk. Gate-locked at recall@5 >= 0.8 (t22/t25).
  *  - [[lshTopK]] with multiProbe — the index-free approximation when no
  *    training pass is wanted; gate-locked at recall@5 >= 0.5 (t12).
  *  - [[lshTopK]] single-probe — a recall-WEAK baseline by construction
  *    (one bucket = 2^-bits of the corpus): kept for the soundness gate
  *    (t30) and as the cheapest possible filter, not a product surface.
  *
  * The STORAGE tier is [[ProductQuantizer]]: PQ codes shrink the scanned
  * bytes ~32× and the re-ranked query (ADC pool → exact cosine refine)
  * emits exact sims — gate-locked at recall@5 >= 0.8 (t117).
  *
  * All dot products run in double precision, folding in element order, so
  * results are bit-deterministic across partitions and match an oracle that
  * evaluates the same chain.
  */
object Similarity {

  /** Σ aᵢbᵢ in double precision, element order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = dot(a, a)

  /** Native Catalyst expression (single pass, codegen); `cosineHof` is the
    * built-in-functions equivalent kept for the parity spec — both fold in
    * element order and agree bit-for-bit.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.GraftFunctions.cosineSim(a, b)

  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Brute-force cosine top-k for each query vector.
    *
    * @param corpus  DataFrame with (idCol, vecCol)
    * @param queries small DataFrame with (idCol, vecCol) — broadcast
    * @return DataFrame[query_id, rank, neighbor_id, sim]
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) $"neighbor_id" =!= $"query_id" else lit(true))
      .select($"query_id", $"neighbor_id", cosine($"qv", $"cv").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"sim")
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nCells` cells; each query scores only the
    * `nProbe` cells whose centroids are nearest. The classic
    * billion-scale ANN layout (FAISS-style coarse quantization): index
    * build is one ML fit + one assignment pass, query cost is
    * corpus/nCells·nProbe instead of the full scan.
    *
    * Deterministic: fixed k-means seed, centroid ids stable per fit.
    */
  /** The IVF building blocks, exposed so gates can verify the contract:
    * `assigned` = (neighbor_id, cv, cell) corpus cell assignments;
    * `probes` = (query_id, qv, cell) — each query's `nProbe` nearest cells.
    * Deterministic (fixed k-means seed), so two calls agree exactly.
    */
  def ivfAssignAndProbes(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nCells: Int, nProbe: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val train = corpus.select(array_to_vector(col(vecCol)).as("features"))
    val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(10).fit(train)
    val assigned = model
      .transform(corpus.withColumn("features", array_to_vector(col(vecCol))))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("prediction").as("cell"))
      .drop("features")

    // nProbe nearest cells per query, via a broadcast centroid table
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy($"query_id").orderBy($"cdist", $"cell")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", -dot($"qv", $"centroid") /
        (sqrt(norm2($"qv")) * sqrt(norm2($"centroid"))))
      .withColumn("prn", row_number().over(probeW))
      .filter($"prn" <= nProbe)
      .select($"query_id", $"qv", $"cell")
    (assigned, probes)
  }

  /** Sizing (measured, GateProbe ann sweep): recall rises with the probe
    * FRACTION nProbe/nCells, and the cell count must not outrun the corpus —
    * at n=500 vectors, nCells=16/nProbe=8 collapsed to recall 0.47 while
    * nCells=8/nProbe=5 held 0.80-0.87 across the driver SFs (the gate
    * config). At real scale grow nCells ~ sqrt(N) and re-measure the probe
    * fraction against a brute-force sample ([[annRecall]] is that harness).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assigned, probes) =
      ivfAssignAndProbes(corpus, queries, idCol, vecCol, nCells, nProbe)

    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", cosine($"qv", $"cv").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"sim")
  }

  /** Persistent IVF index: the build-once / query-many layout. Cell
    * assignments land as parquet PARTITIONED BY cell, so a query's `nProbe`
    * cell filter prunes non-probed cells at the SCAN (dynamic partition
    * pruning through the broadcast probe join) — on a billion-vector corpus
    * a query reads `nProbe/nCells` of the data from disk, not all of it.
    * Centroids are a tiny side table. Deterministic: same seed as
    * [[ivfTopK]], so `ivfBuild` + `ivfQuery` ≡ `ivfTopK` row-for-row.
    */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, indexDir: String, maxTrainRows: Long = -1L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector

    // the coarse fit trains on a capped deterministic sample (default
    // 256 rows per cell — the ProductQuantizer.train sizing rule): an
    // uncapped fit over a 100 TB corpus is 10 distributed passes over
    // 100 TB for centroids a few hundred rows of sample already pin
    val cap = if (maxTrainRows == -1L) 256L * nCells else maxTrainRows
    val train = ProductQuantizer
      .sampleForFit(corpus.select(col(idCol), col(vecCol)), col(idCol), cap)
      .select(array_to_vector(col(vecCol)).as("features"))
    val centers = ProductQuantizer.kMeansCenters(train, nCells, 42L)
    // build-time assignment runs against the FLOAT-ROUNDED centroid table
    // the layout persists — the same matrix + argmin + first-min tiebreak
    // [[ivfAppend]] applies — so the persisted quantizer is ONE function
    // across build and append (no Voronoi-boundary rounding divergence
    // between km.transform's double centers and the float table)
    val matrix = centers.map(_.map(_.toFloat.toDouble))
    val bd = graft.expressions.GraftFunctions.l2sqDistances(col(vecCol), matrix)
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), bd.as("__d"))
      .select($"neighbor_id", $"cv",
        (array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells")
    centers.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }
      .toSeq.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    // per-cell baseline of the build's own assignment distances — the
    // yardstick [[ivfAppend]]'s quantizer-drift diagnostic compares each
    // append batch against. One extra narrow pass + an nCells-row agg,
    // measured against the same float-rounded matrix appends use.
    val d = graft.expressions.GraftFunctions.l2sqDistances(col(vecCol), matrix)
    corpus.select(d.as("__d"))
      .select((array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"),
        array_min($"__d").as("__min"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), avg($"__min").as("mean_l2sq"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** Quantizer-drift reading from one [[ivfAppend]] batch — TWO sensors,
    * because distribution drift has two distinct failure shapes:
    *
    *  - SPREAD drift (`driftRatio`): `meanL2sq` is the batch's mean
    *    squared distance to its assigned (frozen) centroids;
    *    `baselineMeanL2sq` is what the BUILD corpus averaged over the
    *    same cell mixture (Σ batch-cellcount × build-cell-mean / n, so a
    *    batch that legitimately concentrates in tight cells is not
    *    misread as drift); the ratio ≫ 1 (rule of thumb: > 1.5) means
    *    new data sits far from every centroid.
    *  - CONCENTRATION drift (`mixtureTv`): the total-variation distance
    *    (½ Σ |batch share − build share| over cells, in [0, 1]) between
    *    the batch's cell-assignment mixture and the build corpus's
    *    (`stats.n`). A batch can sit exactly as CLOSE to centroids as
    *    the build did while landing in a fraction of the cells — the
    *    distance ratio then reads ~1 and lies by omission. This is not
    *    hypothetical: on the unit-space residual layout, a constant
    *    coordinate shift read ratio 0.979 (unit-sphere distances
    *    saturate near 1 on a near-uniform corpus) while pushing most of
    *    the batch into a couple of diagonal-facing cells — mixtureTv is
    *    the sensor that catches exactly that (found driving the CLI, not
    *    by a spec; both sensors now feed
    *    [[graft.operators.AnnMaintenance]]'s policy).
    *
    * Both fields are None for a pre-stats index (no `stats` dir).
    */
  case class IvfAppendStats(n: Long, meanL2sq: Double,
      baselineMeanL2sq: Option[Double], driftRatio: Option[Double],
      mixtureTv: Option[Double] = None)

  /** Append new vectors to a persisted IVF index WITHOUT retraining — the
    * vector analog of the crawl's incremental admission: a continuously
    * growing corpus (each snapshot adds embeddings) must not re-cluster
    * history to stay searchable. Each new vector is assigned to its
    * nearest EXISTING centroid under the build's own metric — KMeans
    * assignment is EUCLIDEAN argmin (not the cosine rule probes use), so
    * the append recomputes squared Euclidean distance to the broadcast
    * centroid table with a deterministic (distance, cell) tiebreak — and
    * appended into the cell-partitioned layout, so [[ivfQuery]] over
    * the grown index is indistinguishable from an index whose build had
    * seen the union under the same centroids — appends are associative
    * (one batch ≡ any split into sub-batches, spec-pinned) and the t114
    * gate locks soundness + recall of the grown index.
    *
    * The coarse quantizer is intentionally FROZEN: recall drifts only as
    * far as the data distribution drifts from the trained centroids.
    * Every append therefore returns an [[IvfAppendStats]] reading — the
    * batch's mean assigned squared distance against the build's per-cell
    * baseline (`indexDir/stats`), computed from the distances the append
    * already evaluates — so "time to rebuild" is a number (`driftRatio`),
    * not a guess. Re-measure recall with [[annRecall]] and rebuild (the
    * compaction discipline applied to vectors) when the ratio sustains
    * above ~1.5 or the recall floor approaches.
    *
    * Scale shape: the centroid matrix (nCells × dim, driver-scale by
    * design) bakes into the plan and the native codegen'd
    * `graft_l2sq_distances` kernel (the k-means assignment expression)
    * computes all squared Euclidean distances in one pass per row —
    * append is a PURE NARROW PROJECTION plus the partitioned write: no
    * join, no shuffle, and history is never read. Tiebreak =
    * first-minimum = lowest cell index, the same rule KMeans' own
    * findClosest applies.
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      newVectors: DataFrame, idCol: String, vecCol: String): IvfAppendStats =
      IndexLease.withLease(indexDir) {
    import spark.implicits._
    // resolve the live generation once (also heals pre-generational crash
    // residue): every read and the cell-partitioned write below land in
    // THIS generation — an in-place append is part of the generation it
    // extends, never a new one
    val root = IncrementalDedup.readRoot(indexDir)
    // The float-persisted centroid table is the AUTHORITATIVE quantizer —
    // and since round 16, [[ivfBuild]] assigns with the SAME float-rounded
    // matrix and argmin rule, so an append is bit-identical to a
    // from-scratch build over the union placing the same vectors.
    val cen = spark.read.parquet(s"$root/centroids")
      .orderBy("cell").select("cell", "centroid").collect()
    require(cen.nonEmpty && cen.zipWithIndex.forall {
        case (r, i) => r.getInt(0) == i },
      "centroid table must carry contiguous cells 0..n-1")
    val matrix = cen.map(_.getSeq[Float](1).toArray.map(_.toDouble))
    // loud guard BEFORE the write: a tombstoned id must be resolved by a
    // compact/rebuild, not silently duplicated or hidden (ivfDelete's
    // re-add contract)
    requireNotTombstoned(spark, root, newVectors, idCol)
    requireNotUpserted(spark, root, newVectors, idCol)
    val d = graft.expressions.GraftFunctions.l2sqDistances(col(vecCol), matrix)
    newVectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), d.as("__d"))
      .select($"neighbor_id", $"cv",
        (array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$root/cells")

    // drift diagnostic: re-derive (cell, min-distance) from the same
    // deterministic projection — a second narrow pass with a map-side
    // partial agg, never a join or a vector shuffle — and weigh the
    // build's per-cell baseline by THIS batch's cell mixture
    val batch = newVectors.select(d.as("__d"))
      .select((array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"),
        array_min($"__d").as("__min"))
      .groupBy($"cell").agg(count(lit(1)).as("bn"), sum($"__min").as("bsum"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
    driftReading(spark, root, batch)
  }

  /** The per-cell drift baseline's schema, as [[ivfBuild]] and
    * [[ProductQuantizer]]'s builds write it: read with it, `stats` starts
    * no schema-inference job.
    */
  private val StatsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cell INT, n BIGINT, mean_l2sq DOUBLE")

  /** Fold one append batch's per-cell (count, Σ min-distance) against the
    * build's persisted `stats` baseline into both drift sensors (see
    * [[IvfAppendStats]]) — shared by the plain and composed appends.
    */
  private[operators] def driftReading(spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      batch: Map[Int, (Long, Double)]): IvfAppendStats = {
    val n = batch.values.map(_._1).sum
    val meanL2sq = if (n == 0) 0.0 else batch.values.map(_._2).sum / n
    if (!IndexFs.exists(s"$indexDir/stats"))
      return IvfAppendStats(n, meanL2sq, None, None, None)
    val rows = spark.read.schema(StatsSchema).parquet(s"$indexDir/stats")
      .select("cell", "mean_l2sq", "n").collect()
    val base = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val baseN = rows.map(r => r.getInt(0) -> r.getLong(2)).toMap
    val covered = batch.filter { case (c, _) => base.contains(c) }
    val cn = covered.values.map(_._1).sum
    val baseline =
      if (cn == 0) None
      else Some(covered.map { case (c, (bn, _)) => bn * base(c) }.sum / cn)
    val totBase = baseN.values.sum.toDouble
    val mixtureTv =
      if (n == 0 || totBase == 0) None
      else Some((batch.keySet ++ baseN.keySet).toSeq.map { c =>
        math.abs(batch.get(c).map(_._1).getOrElse(0L) / n.toDouble -
          baseN.getOrElse(c, 0L) / totBase)
      }.sum / 2)
    IvfAppendStats(n, meanL2sq, baseline,
      baseline.filter(_ > 0).map(meanL2sq / _), mixtureTv)
  }

  /** Tombstone-DELETE ids from a persisted IVF / IVF-PQ index — the arc
    * curation actually needs (takedowns, re-filtering, dedup survivors
    * changing) that the grow-only lifecycle lacked: at 100 TB a full
    * rebuild per takedown batch is not a plan. Deletion is a TOMBSTONE
    * table beside the layout (`indexDir/tombstones`, one `neighbor_id`
    * per row): queries, recall, and the adaptive selectivity counts
    * anti-join it (broadcast — deletion sets are small relative to the
    * index), so a deleted id can never surface, while the cell files are
    * untouched until the next [[ivfCompact]] / rebuild physically drops
    * the rows and clears the table. Works identically on plain-IVF and
    * composed IVF-PQ layouts (the tombstone carries only ids).
    *
    * Re-add semantics: appending a TOMBSTONED id is a loud error until a
    * compact/rebuild resolves the deletion — clearing the tombstone at
    * append time would unhide the id's OLD rows beside the new one
    * (duplicate ids), and keeping it would silently hide the new vector;
    * the guard is the only honest option. (The fp index differs: it is a
    * SET of fingerprints, so re-admission clears tombstones safely —
    * [[IncrementalDedup.readmitKeys]].) Ids not present in the index
    * tombstone harmlessly.
    *
    * @return number of distinct ids in this delete batch
    */
  def ivfDelete(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      ids: DataFrame, idCol: String): Long = IndexLease.withLease(indexDir) {
    val root = IncrementalDedup.readRoot(indexDir)
    val n = IncrementalDedup.appendTombstones(spark, s"$root/tombstones",
      ids.select(col(idCol).as("neighbor_id")), "neighbor_id")
    // an UPSERTED id's stored versions outrank the tombstone (latest
    // wins — that is how upsert-after-delete resurrects), so a takedown
    // must ALSO append a deletion MARKER version (null vector) that
    // outranks them; ids never upserted pay nothing
    val upDir = s"$root/upserts"
    IncrementalDedup.recoverDir(upDir)
    if (IndexFs.exists(upDir)) {
      val ups = spark.read.parquet(upDir)
      val affected = ids.select(col(idCol).as("neighbor_id")).distinct()
        .join(ups.select(col("neighbor_id")).distinct(),
          Seq("neighbor_id"), "left_semi")
        .localCheckpoint()
      if (affected.count() > 0) {
        val m = ups.agg(max(col("useq")).cast("long")).head()
        val nextSeq = (if (m.isNullAt(0)) -1L else m.getLong(0)) + 1L
        val markerCols = ups.columns.map {
          case "neighbor_id" => col("neighbor_id")
          case "useq" => lit(nextSeq).as("useq")
          case "cell" => lit(-1).as("cell")
          case c => lit(null).cast(ups.schema(c).dataType).as(c)
        }
        affected.select(markerCols.toSeq: _*)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("useq", "cell").parquet(upDir)
      }
    }
    n
  }

  /** The live view of an index table: rows minus the tombstone set (the
    * shared [[IncrementalDedup.applyTombstones]] broadcast anti-join; a
    * no-op plan when no tombstone table exists). Every read surface of
    * the layout — queries, recall, compaction, rebuild, selectivity
    * counts — goes through this, so deletion has ONE definition.
    */
  private[operators] def minusTombstones(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      df: DataFrame): DataFrame =
    IncrementalDedup.applyTombstones(spark, s"$indexDir/tombstones",
      df, "neighbor_id")

  /** The FULL live view: tombstones applied to the base cells, then the
    * UPSERT delta overlaid with latest-version-wins per id (see
    * [[ivfUpsert]]). `baseRead` is the caller's (possibly
    * partition-pruned, column-selected) read of `root/cells`;
    * `upsertPost` re-applies the same pruning/selection to the upsert
    * rows AFTER latest-per-id is resolved — the version window must run
    * over ALL of an id's versions, or a pruned read could surface an OLD
    * version living in a probed cell while the latest sits in an
    * unprobed one. The upsert delta is small by contract (compact folds
    * it), so the unpruned window is delta-scale, never index-scale; a
    * never-upserted index pays nothing (no `upserts` dir → the plain
    * tombstone view).
    */
  private[operators] def liveRows(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      baseRead: DataFrame,
      upsertPost: DataFrame => DataFrame = identity): DataFrame = {
    val base = minusTombstones(spark, indexDir, baseRead)
    val upDir = s"$indexDir/upserts"
    IncrementalDedup.recoverDir(upDir)
    if (!IndexFs.exists(upDir)) base
    else {
      val ups = spark.read.parquet(upDir)
      // every id with ANY upsert version is served from the delta (or
      // not at all, when its latest version is a deletion marker)
      val upIds = broadcast(ups.select(col("neighbor_id")).distinct())
      val baseLive = base.join(upIds, Seq("neighbor_id"), "left_anti")
      val w = Window.partitionBy(col("neighbor_id")).orderBy(col("useq").desc)
      val latest = ups
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1 && col("cv").isNotNull)
      baseLive.unionByName(
        upsertPost(latest).select(base.columns.map(col): _*))
    }
  }

  /** UPSERT: re-embed / replace vectors by id in ONE leased commit — the
    * verb corpus refresh needs (a changed page re-embeds constantly;
    * without this the only correct path was takedown → wait for a
    * compact → re-append, coupling re-embed latency to compaction
    * cadence). Rows land in an `upserts/` delta beside the cells
    * (cell-partitioned, assigned under the SAME frozen float-centroid
    * quantizer as [[ivfAppend]]; on a composed layout codes are encoded
    * like [[ProductQuantizer.ivfPqAppend]]), each batch stamped with a
    * monotonically increasing `useq` — the read view serves LATEST
    * VERSION WINS per id ([[liveRows]]), so the updated vector serves at
    * its new position and the old one can never surface, including
    * across probe pruning. Upserting a previously-DELETED id resurrects
    * it (the delta outranks the tombstone); [[ivfDelete]] of an upserted
    * id appends a deletion MARKER version (null cv) so the takedown
    * outranks every stored version. [[ivfCompact]]/[[ivfRebuild]] fold
    * the delta into the cells physically and clear it.
    *
    * REPLAY-IDEMPOTENT like [[LexIndex.upsert]]: each commit lands as
    * its own `useq=<k>` partition (dynamic partition overwrite), so a
    * re-run with the same pinned `useq` OVERWRITES its own rows instead
    * of appending duplicate versions under a fresh sequence — without
    * the pin, every retry of a crashed commit inflated the delta,
    * every query's version-window cost, and the maxUpsertFraction
    * sensor until the next compact (answers stayed correct under
    * latest-wins; the cost did not). The pinned sequence must be >= the
    * stored maximum, and pinning an EXISTING sequence requires that
    * commit's id set to be covered by this batch (the crash-retry
    * shape) — anything else would destroy another commit's versions.
    * The frozen-quantizer cell assignment is deterministic per batch,
    * so a replay rewrites exactly the partitions its crashed attempt
    * touched.
    *
    * @param useq pinned version sequence for replay; None (the default)
    *             auto-assigns max + 1
    * @return number of distinct ids upserted
    */
  def ivfUpsert(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batch: DataFrame, idCol: String, vecCol: String,
      useq: Option[Long] = None): Long = IndexLease.withLease(indexDir) {
    import spark.implicits._
    val root = IncrementalDedup.readRoot(indexDir)
    val dup = batch.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert batch carries duplicate id ${dup.headOption.map(_.get(0))} " +
        "— one version per id per commit (versions across commits are " +
        "ordered by useq)")
    val cen = spark.read.parquet(s"$root/centroids")
      .orderBy("cell").select("cell", "centroid").collect()
    require(cen.nonEmpty && cen.zipWithIndex.forall {
        case (r, i) => r.getInt(0) == i },
      "centroid table must carry contiguous cells 0..n-1")
    val matrix = cen.map(_.getSeq[Float](1).toArray.map(_.toDouble))
    val composed = IndexFs.exists(s"$root/pq_model")
    val upDir = s"$root/upserts"
    IncrementalDedup.recoverDir(upDir)
    val storedMax: Option[Long] =
      if (!IndexFs.exists(upDir)) None
      else {
        val m = spark.read.parquet(upDir)
          .agg(max(col("useq")).cast("long")).head()
        if (m.isNullAt(0)) None else Some(m.getLong(0))
      }
    val nextSeq = useq.getOrElse(storedMax.map(_ + 1L).getOrElse(0L))
    require(storedMax.forall(nextSeq >= _),
      s"pinned useq $nextSeq is below the stored maximum " +
        s"(${storedMax.get}) — newer versions would outrank the " +
        "\"new\" one; pin the crashed attempt's own sequence only when " +
        "replaying that same batch, otherwise let it auto-assign")
    if (useq.isDefined && storedMax.contains(nextSeq)) {
      // replay-only: overwriting an existing sequence must cover every
      // id that sequence holds, or their versions are destroyed
      val destroyed = spark.read.parquet(upDir)
        .where(col("useq") === nextSeq).select(col("neighbor_id"))
        .join(broadcast(batch.select(col(idCol).as("neighbor_id")).distinct()),
          Seq("neighbor_id"), "left_anti")
        .limit(4).collect().map(_.get(0))
      require(destroyed.isEmpty,
        s"upsert pinned to EXISTING sequence $nextSeq, which holds " +
          s"version(s) of id(s) ${destroyed.mkString(", ")} absent from " +
          "this batch — overwriting the commit would destroy them; " +
          "pinning an existing sequence is only for replaying the " +
          "identical batch (the crash-retry shape)")
    }
    val rows =
      if (composed) {
        val model = ProductQuantizer.loadModel(spark, root)
        ProductQuantizer.assignAndEncode(batch, idCol, vecCol, model, matrix)
      } else {
        val d = graft.expressions.GraftFunctions
          .l2sqDistances(col(vecCol), matrix)
        batch
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), d.as("__d"))
          .select($"neighbor_id", $"cv",
            (array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"))
      }
    val stamped = rows.withColumn("useq", lit(nextSeq)).localCheckpoint()
    val n = stamped.count()
    if (n > 0)
      // one partition dir per commit: dynamic overwrite touches only
      // useq=<nextSeq>/cell=<assigned> — a replay replaces exactly its
      // crashed attempt's rows, every other commit's partitions stay
      stamped.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("useq", "cell").parquet(upDir)
    n
  }

  /** [[ivfDelete]]'s append guard: a batch that re-uses a tombstoned id
    * must fail LOUDLY before the write — see the re-add semantics note on
    * [[ivfDelete]]. One broadcast semi-join, only when a tombstone table
    * exists; a tombstone-free index pays nothing.
    */
  private[operators] def requireNotTombstoned(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      ids: DataFrame, idCol: String): Unit = {
    IndexLedger.read(spark, s"$indexDir/tombstones",
        IncrementalDedup.tombstoneSchema("neighbor_id",
          ids.schema(idCol).dataType))
      .foreach { ts =>
        val sample = ids.select(col(idCol).as("neighbor_id")).distinct()
          .join(broadcast(ts.distinct()), Seq("neighbor_id"), "left_semi")
          .limit(4).collect().map(_.get(0))
        require(sample.isEmpty,
          s"append batch re-uses tombstoned ids (${sample.mkString(", ")} …): " +
            "resolve deletions first (ivfCompact / rebuild), then re-add")
      }
  }

  /** [[ivfUpsert]]'s append guard: an id with stored upsert VERSIONS must
    * not be re-appended to the base cells — the version overlay would
    * silently hide the new base row. Route replacements through
    * [[ivfUpsert]] (that is the verb for existing ids).
    */
  private[operators] def requireNotUpserted(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      ids: DataFrame, idCol: String): Unit = {
    val upDir = s"$indexDir/upserts"
    IncrementalDedup.recoverDir(upDir)
    if (!IndexFs.exists(upDir)) return
    val sample = ids.select(col(idCol).as("neighbor_id")).distinct()
      .join(broadcast(spark.read.parquet(upDir).select(col("neighbor_id"))
        .distinct()), Seq("neighbor_id"), "left_semi")
      .limit(4).collect().map(_.get(0))
    require(sample.isEmpty,
      s"append batch re-uses upserted ids (${sample.mkString(", ")} …): " +
        "replacements go through ivfUpsert (latest version wins); append " +
        "is for NEW ids only")
  }

  /** Compact a persisted IVF index's cell files: every [[ivfAppend]] batch
    * adds at least one file per touched cell, and a daemon appending per
    * snapshot degrades queries with thousands-of-tiny-files scan overhead —
    * the same small-file failure mode the delta-index compactor exists
    * for, specialized to the cell-partitioned layout. Rows are re-written
    * cell-clustered (repartition on `cell` sized to `targetRows` per file)
    * into a staging dir and swapped in via the write-then-swap discipline
    * ([[graft.operators.IncrementalDedup.replaceDir]]): a killed
    * compaction never leaves less than one complete index on disk.
    * Centroids are carried unchanged — compaction moves bytes, never
    * assignments, so [[ivfQuery]] answers are row-identical (spec-pinned).
    * Stop appenders while compacting (replaceDir's contract).
    *
    * @return number of vectors in the compacted index
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      targetRows: Long = 4_000_000L,
      keepGenerations: Int = 2): Long = IndexLease.withLease(indexDir) {
    val root = IncrementalDedup.readRoot(indexDir)
    // tombstoned rows are physically dropped here — and the tombstone
    // table is NOT carried through the swap, so compaction clears it
    // ([[ivfDelete]]'s contract); the two are one atomic step because the
    // swap replaces the whole dir
    val cells = liveRows(spark, root,
      spark.read.parquet(s"$root/cells")).localCheckpoint()
    val centroids = spark.read.parquet(s"$root/centroids").localCheckpoint()
    // drift baseline, the PQ model (IVF-PQ layouts), and the maintenance
    // ledger ride along unchanged — the swap replaces the WHOLE index
    // dir, so any side table not copied into staging would be silently
    // destroyed (the ledger WAS, until round 16: a compaction reset the
    // drift history a daemon's maintain decisions depend on). The ledger
    // is rewritten as ONE file — one row per append, so the coalesce is
    // free and bounds its small-file growth at every compaction.
    def carry(name: String) =
      if (IndexFs.exists(s"$root/$name"))
        Some(name -> spark.read.parquet(s"$root/$name").localCheckpoint())
      else None
    val log = IndexLedger.read(spark, s"$root/drift_log",
        AnnMaintenance.DriftLogSchema)
      .map(df => "drift_log" -> df.localCheckpoint().coalesce(1))
    val side = Seq(carry("stats"), carry("pq_model"), log).flatten
    val n = cells.count()
    val files = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    val next = s"$indexDir.compact"
    IncrementalDedup.clearStaging(next)
    cells.repartition(files, col("cell"))
      .write.partitionBy("cell").parquet(s"$next/cells")
    centroids.write.parquet(s"$next/centroids")
    side.foreach { case (name, df) => df.write.parquet(s"$next/$name") }
    IncrementalDedup.commitGeneration(indexDir, next, keepGenerations)
    n
  }

  /** Re-train the coarse quantizer over everything the index holds and swap
    * the result in atomically — the ACTION [[IvfAppendStats.driftRatio]]
    * points to. [[ivfBuild]] writes into its target directly (fine for a
    * fresh dir), so rebuilding a LIVE index in place would destroy it on a
    * mid-build crash; this builds into `indexDir.rebuild` staging and
    * commits via the write-then-swap discipline ([[ivfCompact]]'s
    * contract — stop appenders/queries while rebuilding, recoverDir heals
    * the crash windows). The fresh build re-trains centroids on the full
    * accumulated corpus and re-baselines `stats`, so post-rebuild appends
    * measure drift against quantizers that have seen everything.
    *
    * @param nCells cell count for the new quantizer — grow ~sqrt(N) as the
    *               corpus accumulates (see [[ivfTopK]]'s sizing note)
    * @return number of vectors in the rebuilt index
    */
  def ivfRebuild(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      nCells: Int,
      keepGenerations: Int = 2): Long = IndexLease.withLease(indexDir) {
    val root = IncrementalDedup.readRoot(indexDir)
    // rebuild trains on and re-writes the LIVE rows only (upsert delta
    // folded); the generation commit drops the tombstone table and the
    // delta with the retired generation
    val cells = liveRows(spark, root,
        spark.read.parquet(s"$root/cells"))
      .select(col("neighbor_id"), col("cv")).localCheckpoint()
    val n = cells.count()
    val next = s"$indexDir.rebuild"
    IncrementalDedup.clearStaging(next)
    ivfBuild(cells, "neighbor_id", "cv", nCells, next)
    IncrementalDedup.commitGeneration(indexDir, next, keepGenerations)
    n
  }

  /** Query a persisted IVF index (see [[ivfBuild]]).
    *
    * The probe-cell set (≤ nQueries·nProbe ints) is collected driver-side
    * and applied as a STATIC `IN` filter on the partition column, so the
    * cells scan prunes to the probed directories unconditionally — not
    * contingent on the optimizer electing dynamic partition pruning. This is
    * the FAISS access pattern: the probe list is known before the index is
    * touched, and a query reads nProbe/nCells of the corpus from disk.
    *
    * THIS IS ALSO THE BATCHED PATH — `queries` is plural by contract:
    * a Q-row frame is served by ONE read of the union of all queries'
    * probed cells, one probe-cell collect, and one scoring plan with a
    * query-partitioned rank window, so the driver-job count is CONSTANT
    * in Q (spec-pinned) and each query's rows are value-identical to its
    * own single-row call (the probe set per query depends only on that
    * query's vector, and scoring/ranking partition by query). Serve
    * evaluation batches and recall sweeps with one call over a multi-row
    * frame — looping single-row calls pays the per-call driver actions
    * (recoverDir, centroid read, probe collect) Q times.
    */
  def ivfQuery(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4): DataFrame =
    ivfQueryImpl(spark, indexDir, queries, idCol, vecCol, k, nProbe, identity)

  /** FILTERED ANN over a persisted IVF index: top-k among index rows whose
    * id survives the `allowed` set — "nearest English documents", "nearest
    * not-yet-deduped vectors" — the predicate-under-ANN shape every
    * production vector store needs. The filter lives where metadata lives
    * (the caller derives `allowed` from its own tables) and the index
    * stays vectors-only; candidates are restricted by a LEFT SEMI join
    * against the distinct allowed ids AFTER partition pruning, so the scan
    * still reads only probed cells and Spark broadcasts the allowed side
    * whenever it is small.
    *
    * Recall contract: the probe list is chosen by the QUERY alone, so a
    * selective filter thins probed cells without redirecting probes —
    * recall vs the FILTERED brute force degrades as selectivity rises.
    * Raise nProbe with selectivity (the standard filtered-ANN correction;
    * [[nProbeFor]] is that rule as code and
    * [[ivfQueryFilteredAdaptive]] applies it from measured selectivity);
    * at nProbe = nCells this is EXACTLY brute force over the allowed set
    * (spec-pinned theorem, and the t125 gate holds a floor at the
    * production config).
    *
    * Measured (round-15 `GateProbe annfilter` sweep, recall@5 vs filtered
    * brute force, nCells=8; "fixed" = production nProbe=5, "adaptive" =
    * [[nProbeFor]] from measured selectivity — the composed residual
    * IVF-PQ path read IDENTICAL numbers at rerank=100):
    * {{{
    * selectivity   sf0.001 fixed/adaptive   sf0.01          sf0.1
    *   1/3            0.667 / 1.000       0.800 / 1.000   0.733 / 1.000
    *   1/10           0.733 / 1.000       0.733 / 1.000   1.000 / 1.000
    *   1/100          0.500 / 1.000       0.643 / 1.000   0.600 / 1.000
    * }}}
    * The fixed probe count pays 25-50 recall points at harsh selectivity;
    * the adaptive correction recovers them by walking probes toward the
    * exhaustive regime as the filter tightens.
    */
  def ivfQueryFiltered(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String,
      k: Int, nProbe: Int = 4): DataFrame =
    ivfQueryImpl(spark, indexDir, queries, idCol, vecCol, k, nProbe,
      assigned => assigned.join(
        allowed.select(col(allowedIdCol).as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_semi"))

  /** The documented filtered-ANN mitigation AS CODE: probes per query for
    * a filter keeping `selectivity` of the corpus. A filter thins every
    * probed cell to ~selectivity × its rows without redirecting probes, so
    * holding the EXPECTED ALLOWED-CANDIDATE VOLUME at what `baseNProbe`
    * was sized for means probing ~baseNProbe / selectivity cells, capped
    * at nCells (where the query is exactly filtered brute force — the
    * spec-pinned theorem).
    */
  def nProbeFor(nCells: Int, baseNProbe: Int, selectivity: Double): Int = {
    require(nCells >= 1 && baseNProbe >= 1 &&
      selectivity > 0 && selectivity <= 1,
      s"bad nProbeFor($nCells, $baseNProbe, $selectivity)")
    math.min(nCells,
      math.max(baseNProbe, math.ceil(baseNProbe / selectivity).toInt))
  }

  /** [[ivfQueryFiltered]] with the probe correction applied from MEASURED
    * selectivity: |allowed ∩ index| / |index| (two count passes — the
    * allowed side is metadata the caller already holds; the index count
    * reads parquet footers, not data). At 1/10 selectivity and the
    * production config this walks nProbe to the cell count — filtered
    * queries degrade toward (pruned) brute force over the allowed set
    * instead of silently losing recall.
    */
  def ivfQueryFilteredAdaptive(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String,
      k: Int, baseNProbe: Int = 4): DataFrame = {
    val root = IncrementalDedup.readRoot(indexDir)
    // selectivity is measured over the LIVE rows — tombstoned rows are
    // neither candidates nor denominator; upserted versions resolve
    val cells = liveRows(spark, root,
      spark.read.parquet(s"$root/cells"))
    val nCells = spark.read.parquet(s"$root/centroids").count().toInt
    val total = cells.count()
    val kept = cells.join(
      allowed.select(col(allowedIdCol).as("neighbor_id")).distinct(),
      Seq("neighbor_id"), "left_semi").count()
    val sel = if (total == 0) 1.0
      else math.min(1.0, math.max(kept.toDouble / total, 1.0 / total))
    ivfQueryFiltered(spark, indexDir, queries, idCol, vecCol, allowed,
      allowedIdCol, k, nProbeFor(nCells, baseNProbe, sel))
  }

  /** THE dense-serving front door: query a persisted ANN index through
    * whichever engine its LAYOUT requires — composed (a `pq_model` table
    * in the live generation, [[AnnMaintenance.isComposed]]'s Hadoop-FS
    * probe) routes to [[ProductQuantizer.ivfPqQuery]]'s codes-only ADC
    * scan + bounded exact re-rank; plain IVF routes to [[ivfQuery]]'s
    * exact-cosine-over-probed-cells scan. Serving callers (the hybrid
    * pools, the CLIs, recall sweeps) use THIS entry, not the layout
    * engines directly: calling [[ivfQuery]] on a composed index still
    * answers correctly (the cell table carries vectors) but reads FULL
    * vectors from every probed cell — silently forgoing the
    * codes-only read that is the PQ tier's entire at-scale I/O story.
    * The layout engines stay public for the exactness theorems the gates
    * pin (exhaustive-probe [[ivfQuery]] ≡ brute force needs the
    * un-reranked exact path).
    *
    * Output is identical across layouts: (query_id, rank, neighbor_id,
    * sim) with EXACT cosine sims — the PQ path re-ranks its ADC pool
    * with true vectors, so downstream fusion/eval code never sees
    * approximate scores. Batched by the shared contract: `queries` is
    * plural, driver jobs constant in the batch size.
    *
    * @param rerank ADC-pool size for the exact re-rank — composed
    *               layouts only (plain IVF scores exactly and ignores
    *               it); clamped to >= k
    */
  def annQuery(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4, rerank: Int = 100): DataFrame =
    if (AnnMaintenance.isComposed(indexDir))
      ProductQuantizer.ivfPqQuery(spark, indexDir, queries, idCol, vecCol,
        k, nProbe, math.max(rerank, k))
    else ivfQuery(spark, indexDir, queries, idCol, vecCol, k, nProbe)

  /** [[annQuery]]'s filtered twin: layout-dispatched
    * [[ProductQuantizer.ivfPqQueryFiltered]] / [[ivfQueryFiltered]].
    * The filter semantics, recall contract, and the raise-nProbe-with-
    * selectivity correction are the engines' own (see their scaladoc).
    */
  def annQueryFiltered(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String,
      k: Int, nProbe: Int = 4, rerank: Int = 100): DataFrame =
    if (AnnMaintenance.isComposed(indexDir))
      ProductQuantizer.ivfPqQueryFiltered(spark, indexDir, queries, idCol,
        vecCol, allowed, allowedIdCol, k, nProbe, math.max(rerank, k))
    else ivfQueryFiltered(spark, indexDir, queries, idCol, vecCol,
      allowed, allowedIdCol, k, nProbe)

  /** [[annQueryFiltered]] with the probe correction applied from MEASURED
    * selectivity — layout-dispatched
    * [[ProductQuantizer.ivfPqQueryFilteredAdaptive]] /
    * [[ivfQueryFilteredAdaptive]].
    */
  def annQueryFilteredAdaptive(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String,
      k: Int, baseNProbe: Int = 4, rerank: Int = 100): DataFrame =
    if (AnnMaintenance.isComposed(indexDir))
      ProductQuantizer.ivfPqQueryFilteredAdaptive(spark, indexDir, queries,
        idCol, vecCol, allowed, allowedIdCol, k, baseNProbe,
        math.max(rerank, k))
    else ivfQueryFilteredAdaptive(spark, indexDir, queries, idCol, vecCol,
      allowed, allowedIdCol, k, baseNProbe)

  private def ivfQueryImpl(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int,
      restrict: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    // pin the live generation for the WHOLE query (reader-vs-swap safety:
    // a compact/rebuild committing mid-scan retires this generation only
    // after the next one, so every read below stays valid)
    val root = IncrementalDedup.readRoot(indexDir)
    val centroids = spark.read.parquet(s"$root/centroids")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy($"query_id").orderBy($"cdist", $"cell")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", -dot($"qv", $"centroid") /
        (sqrt(norm2($"qv")) * sqrt(norm2($"centroid"))))
      .withColumn("prn", row_number().over(probeW))
      .filter($"prn" <= nProbe)
      .select($"query_id", $"qv", $"cell")

    val probeCells = probes.select($"cell".cast("int")).distinct().as[Int].collect().toSeq

    // partition-prune first, then the tombstone anti-join, then the
    // caller's restriction — each step only ever shrinks the scan
    val assigned = restrict(liveRows(spark, root,
      spark.read.parquet(s"$root/cells")
        .filter($"cell".isInCollection(probeCells)),
      _.filter($"cell".isInCollection(probeCells))))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", cosine($"qv", $"cv").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"sim")
  }

  /** Sign-random-projection signature: `bits` sign bits (hyperplane rows
    * [offset, offset + bits)) packed into a long. Hyperplane component
    * (bit i, dim j) is uniform in [-0.5, 0.5), derived from xxhash64 —
    * reproducible everywhere, no driver-side RNG state. Delegates to the
    * native one-pass expression (graft.expressions.SrpSignature,
    * codegen'd); the built-in-functions construction it replaced is the
    * bit-parity spec's twin — the HOF tree is CodegenFallback and
    * dominates wall-clock past ~10^4 vectors.
    */
  def srpSignature(vec: Column, bits: Int, offset: Int = 0): Column =
    graft.expressions.GraftFunctions.srpSig(vec, bits, offset)

  /** Banding parameters for [[embeddingNearDupsLsh]] sized to the corpus.
    *
    * Two constraints pull against each other: RECALL at the threshold wants
    * small bands (per-band match probability p^bandBits with
    * p = 1 - acos(threshold)/π), while CANDIDATE VOLUME wants large bands —
    * an unrelated pair (p ≈ 0.5) collides in a band with probability
    * ~2^-bandBits, so bandBits must grow with log2(n) or the n²·2^-bandBits
    * random collisions swamp the join (measured: 48 total bits over 100k
    * vectors → 26 min; sized banding → ~1 min). bandBits = log2(n) + 4
    * caps expected random candidates near n·nBands/16, then nBands is
    * whatever reaches `targetRecall` at the threshold.
    */
  def srpBandingFor(n: Long, threshold: Double, targetRecall: Double = 0.95,
      maxBands: Int = 128): (Int, Int) = {
    require(n > 0 && threshold > 0 && threshold < 1 && targetRecall > 0 && targetRecall < 1)
    val bandBits = math.max(4, math.min(63,
      math.ceil(math.log(n.toDouble) / math.log(2.0)) + 4)).toInt
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, bandBits)
    val nBands = math.max(1, math.min(maxBands,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt))
    (bandBits, nBands)
  }

  /** SRP-LSH-banded embedding near-duplicate pairs — the no-assumptions
    * scale route (the one to reach for when no bounded blocking column
    * exists). MinHash-style banding over SRP sign bits: each vector gets
    * `nBands` band values of `bandBits` sign bits (each band from its OWN
    * hyperplane rows, so total bits are unbounded by the 63-bit long);
    * candidates share at least one (band index, band value); survivors are
    * verified with exact cosine, so every EMITTED pair is exact — banding
    * only affects recall, which for a pair at cosine s is
    * 1 - (1 - p^bandBits)^nBands with p = 1 - acos(s)/π. Size the banding
    * to the corpus with [[srpBandingFor]] (the defaults suit ~10^3-vector
    * corpora; at larger n, under-sized bands turn random collisions into
    * the dominant cost).
    *
    * Scale shape mirrors `minhashNearDups`: the band join shuffles only
    * (band_idx, band_val, id) — never the vectors — and vectors are
    * re-attached to surviving candidates only. No all-pairs step exists
    * anywhere, and a hot bucket requires genuinely co-oriented vectors.
    */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bandBits: Int = 6, nBands: Int = 8): DataFrame = {
    require(bandBits >= 1 && bandBits <= 63 && nBands >= 1,
      s"bandBits must be in [1, 63] and nBands >= 1, got ($bandBits, $nBands)")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      array((0 until nBands).map(b =>
        srpSignature(col(vecCol), bandBits, offset = b * bandBits)): _*).as("bands"))
    val banded = base
      .select($"id", posexplode($"bands"))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val candidates = banded.alias("a")
      .join(banded.alias("b"), Seq("band_idx", "band_val"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .filter($"id_a" < $"id_b")
      .dropDuplicates("id_a", "id_b")
    val vecs = base.select($"id", $"v")
    candidates
      .join(vecs.select($"id".as("id_a"), $"v".as("v_a")), Seq("id_a"))
      .join(vecs.select($"id".as("id_b"), $"v".as("v_b")), Seq("id_b"))
      .withColumn("sim", cosine($"v_a", $"v_b"))
      .filter($"sim" >= threshold)
      .select($"id_a", $"id_b", $"sim")
  }

  /** Embedding-cosine near-duplicate pairs within a blocking column: exact
    * cosine on all pairs sharing `blockCol`. This is the SMALL-BLOCK fast
    * path — all pairs WITHIN a block are compared, so it requires a blocking
    * column with bounded groups (a hot block is quadratic). When no such
    * bound exists, use [[embeddingNearDupsLsh]], which needs no blocking
    * assumption at all.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(blockCol).as("b"), col(idCol).as("id"), col(vecCol).as("v"))
    val a = base.select($"b", $"id".as("id_a"), $"v".as("v_a"))
    val bb = base.select($"b", $"id".as("id_b"), $"v".as("v_b"))
    a.join(bb, Seq("b"))
      .filter($"id_a" < $"id_b")
      .withColumn("sim", cosine($"v_a", $"v_b"))
      .filter($"sim" >= threshold)
      .select($"id_a", $"id_b", $"sim")
  }

  /** Recall@k of the approximate ANN paths against the brute-force oracle,
    * as data: one row per method. Every input is deterministic (fixed k-means
    * seed, hash-derived hyperplanes, unique window tiebreaks), so the
    * emitted recalls are byte-stable across runs — trackable as a registry
    * query without an external oracle.
    */
  def annRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int, nCells: Int, nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bf = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select($"query_id", $"neighbor_id")
    val denom = bf.groupBy().agg(count(lit(1)).as("denom"))
    def recallOf(name: String, approx: DataFrame): DataFrame =
      approx.select($"query_id", $"neighbor_id")
        .join(bf, Seq("query_id", "neighbor_id"))
        .groupBy().agg(count(lit(1)).as("hits"))
        .crossJoin(denom)
        .select(lit(name).as("method"),
          ($"hits".cast("double") / $"denom").as("recall"))
    recallOf("ivf", ivfTopK(corpus, queries, idCol, vecCol, k, nCells, nProbe))
      .unionAll(recallOf("lsh", lshTopK(corpus, queries, idCol, vecCol, k, bits)))
      .unionAll(recallOf("lsh_mp",
        lshTopK(corpus, queries, idCol, vecCol, k, bits, multiProbe = bits)))
      .orderBy($"method")
  }

  /** Recall@k of a PERSISTED index's own query path against brute force
    * over the index's own vectors — the operational measurement the drift
    * ratio's contract points to ("re-measure recall and rebuild when the
    * floor approaches"): the drift ratio is the cheap per-append signal,
    * this is the ground truth it predicts. Queries are the `nQueries`
    * lowest-id vectors IN the index (deterministic, no external input);
    * the approximate side is the layout-dispatched [[annQuery]] front
    * door ([[ivfQuery]], or [[ProductQuantizer.ivfPqQuery]] when the
    * layout carries a `pq_model`), so what is measured is exactly what
    * production queries get, partition pruning and the codes-only ADC
    * read included. The brute-force side scans the cells
    * table once against the broadcast query sample; cost scales with
    * nQueries, not with the index (keep the sample driver-scale).
    */
  def indexRecall(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      k: Int = 5, nProbe: Int = 4, nQueries: Int = 16,
      rerank: Int = 50): Double = {
    import spark.implicits._
    val root = IncrementalDedup.readRoot(indexDir)
    // recall is measured over the LIVE index (deleted ids are neither
    // queries, nor candidates, nor ground truth; upserts resolved)
    val corpus = liveRows(spark, root,
        spark.read.parquet(s"$root/cells"))
      .select($"neighbor_id".as("vid"), $"cv")
    val qIds = corpus.select($"vid").orderBy($"vid").limit(nQueries)
      .as[Long].collect().toSeq
    val queries = corpus.filter($"vid".isInCollection(qIds))
    // the layout-dispatched serving front door — recall measures exactly
    // what production queries get, ADC scan and all; the queries frame
    // is plural, so the whole sample rides the batched contract (one
    // union-of-probed-cells read, jobs constant in nQueries)
    val approx = annQuery(spark, indexDir, queries, "vid", "cv", k,
      nProbe, math.max(rerank, k))
    val bf = bruteForceTopK(corpus, queries, "vid", "cv", k)
    val hits = approx.select($"query_id", $"neighbor_id")
      .join(bf.select($"query_id", $"neighbor_id"), Seq("query_id", "neighbor_id"))
      .count()
    val denom = bf.count()
    if (denom == 0) 1.0 else hits.toDouble / denom
  }

  /** LSH-bucketed approximate top-k: candidates share the SRP bucket of
    * the query, scored exactly within the bucket. Lower `bits` → bigger
    * buckets → higher recall and cost.
    *
    * `multiProbe` > 0 additionally probes the buckets at Hamming distance 1
    * from the query's in its lowest `multiProbe` signature bits — the
    * classic multi-probe LSH trade: a true neighbor differing in exactly
    * one sign bit is found without doubling the table or halving the bucket
    * resolution. Probe count per query is 1 + multiProbe (still
    * dimension-sized: the probe side remains a broadcast), and a corpus
    * vector lands in exactly one bucket, so no candidate is scored twice.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, multiProbe: Int = 0): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= bits,
      s"multiProbe must be in [0, bits], got $multiProbe")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      srpSignature(col(vecCol), bits).as("bucket"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      srpSignature(col(vecCol), bits).as("__b0"))
    val probeBuckets = array(
      $"__b0" +: (0 until multiProbe).map(i => $"__b0".bitwiseXOR(lit(1L << i))): _*)
    val q = qBase
      .select($"query_id", $"qv", explode(probeBuckets).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", cosine($"qv", $"cv").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"sim")
  }
}
