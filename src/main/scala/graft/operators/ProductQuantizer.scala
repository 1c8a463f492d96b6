package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) — the STORAGE tier of the ANN stack (Jégou,
  * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011; the same role PQ plays under FAISS's IVF-PQ indexes).
  *
  * At 100 TB the embedding column dominates storage and scan volume: a
  * 64-dim float vector is 256 bytes, its PQ code (m=8 subspaces, one
  * small-codebook id each) is m ints — 32× less to store, shuffle, and
  * scan. The vector is split into `m` contiguous subspaces; each subspace
  * gets its own tiny k-means codebook; a vector's code is its per-subspace
  * nearest-centroid ids. A query never decodes the corpus: it precomputes
  * one lookup table per subspace (its distance to every codebook entry —
  * exactly the row the native `graft_l2sq_distances` kernel returns) and
  * scores a corpus row as the sum of `m` table lookups (asymmetric
  * distance, ADC) via the codegen'd `graft_pq_adc` expression.
  *
  * Metric contract: vectors are unit-normalized inside [[encode]]/
  * [[queryLut]], so squared L2 = 2 − 2·cosine and the ADC ranking
  * approximates the COSINE ranking the rest of the similarity stack
  * ([[Similarity.bruteForceTopK]], IVF, SRP-LSH) uses — recall is directly
  * comparable across tiers and gate-able against the same brute-force
  * oracle. Approximation error comes only from quantizing the corpus
  * vector; the query side is exact per subspace.
  *
  * Determinism: per-subspace k-means uses seed 42+s (like [[Similarity]]'s
  * IVF fits, deterministic per input layout — k-means|| init samples per
  * partition); argmin ties break to the lowest code id (first minimum);
  * ADC folds in subspace order in double precision — encode/query over a
  * fixed model agree bit-for-bit under any partitioning.
  *
  * Sizing (same lesson as the IVF cells, Similarity.scala): codebooks must
  * not outrun the corpus — nCodes ≤ ~corpus/30 per subspace keeps the
  * k-means fits meaningful; at real scale use nCodes=256 (one byte per
  * subspace, the classic layout). Training TRAINS ON A SAMPLE by default:
  * every fit is capped at `maxTrainRows` (≈256 rows per centroid) via the
  * deterministic keyed Bernoulli — see [[train]] — so a 100 TB corpus
  * never feeds m+1 full-corpus k-means fits.
  *
  * Three persisted encodings (versioned in the layout — [[PqModel]]):
  * `"raw"` quantizes the unit vector; `"residual"` ([[ivfPqBuildResidual]])
  * quantizes `unit(vec) − anchor(cell)` — the classic IVF-ADC residual
  * layout, which concentrates subspace variance and buys materially higher
  * raw-ADC recall at the same code budget; `"opq"` ([[ivfPqBuildOpq]])
  * additionally rotates the residuals by the PCA-permutation basis before
  * subspace splitting (Ge et al., OPQ, CVPR 2013 — the non-parametric
  * initialization), balancing variance across codebooks for another
  * measured pool-recall step at tight rerank budgets.
  */
object ProductQuantizer {

  /** Trained codebooks: `codebooks(s)(c)` is centroid `c` of subspace `s`
    * (length [[subDim]]). Plain vectors so the model serializes into plan
    * literals — queries bake it into expressions, never join against it.
    *
    * `encoding` versions the persisted layout:
    *  - `"raw"` — codes quantize the unit-normalized vector itself (the
    *    original layout; standalone [[pqTopK]]/[[pqTopKReranked]] and
    *    pre-residual indexes).
    *  - `"residual"` — codes quantize `unit(vec) − anchor(cell)`, the
    *    classic IVF-ADC layout ([[ivfPqBuildResidual]]): the per-cell
    *    anchor removes the coarse component, concentrating subspace
    *    variance so the same code budget buys materially higher raw-ADC
    *    recall. Requires a cell, so it exists only inside the composed
    *    IVF-PQ layout. [[loadModel]] defaults a missing column to `"raw"`,
    *    so indexes persisted before the version marker still query.
    *  - `"opq"` — the residual encoding with a persisted orthogonal
    *    rotation (`rotation`, the PCA-permutation basis of the residual
    *    sample) applied before subspace splitting; build, append, and
    *    query all rotate through the model, so the layout stays a pure
    *    per-vector function. A missing/null rotation column loads as the
    *    unrotated encodings — every older index keeps querying.
    */
  final case class PqModel(m: Int, subDim: Int, nCodes: Int,
      codebooks: Vector[Vector[Vector[Double]]], encoding: String = "raw",
      rotation: Option[Vector[Vector[Double]]] = None) {
    require(codebooks.length == m && codebooks.forall(_.length == nCodes),
      s"codebooks must be m=$m x nCodes=$nCodes")
    require(encoding == "raw" || encoding == "residual" || encoding == "opq",
      s"unknown pq encoding '$encoding'")
    require(rotation.isDefined == (encoding == "opq"),
      "rotation is carried exactly by the opq encoding")
    /** Both cell-anchored encodings (codes meaningless without a cell). */
    private[operators] def isResidual: Boolean = encoding != "raw"
    private[operators] def matrix(s: Int): Array[Array[Double]] =
      codebooks(s).map(_.toArray).toArray
  }

  /** Unit-normalize to doubles (zero vectors pass through unscaled rather
    * than dividing by zero — they rank last against everything either way).
    * Native `graft_unit_vec` since round 20: the HOF twin below embeds the
    * norm aggregate inside the per-element lambda, so interpreted
    * evaluation (HOFs are CodegenFallback) recomputed the O(dim) norm for
    * every element — an O(dim²) interpreter tower per row on every encode/
    * assignment path. Bit-parity spec-pinned (PqNativeParitySpec).
    */
  private def unitize(vec: Column): Column =
    graft.expressions.GraftFunctions.unitVec(vec)

  /** `unit(vec) − anchor(cell)`: the residual the `"residual"` encoding
    * quantizes. The anchors are the residual layout's persisted FLOAT
    * centroids VERBATIM — its coarse quantizer trains on the
    * unit-normalized corpus, so each centroid IS the (k-means) mean of
    * its cell in unit space and per-cell residuals are zero-mean: by the
    * law of total variance the mixed-cell residual cloud each subspace
    * codebook sees carries strictly less variance than the raw unit
    * cloud. (An early cut anchored at `unitize(centroid)` instead — a
    * norm-1 vector, NOT the cell mean — which displaced every cell's
    * residuals by (1 − ‖mean‖) in 8 different directions and measurably
    * RAISED distortion; the spec's distortion assertion keeps that
    * mistake dead.) The anchor table bakes into the plan as a literal
    * (nCells × dim doubles — the same driver-scale the
    * `graft_l2sq_distances` centroid matrix already rides), so the
    * projection stays narrow: no join, no shuffle.
    */
  private def residualCol(vec: Column, cell: Column,
      anchors: Array[Array[Double]]): Column =
    graft.expressions.GraftFunctions.vecSubAnchor(
      unitize(vec), cell.cast("int"), anchors)

  /** The m per-subspace k-means fits over a prepared (`__u`) frame —
    * shared by the raw and residual trainers. The fits are INDEPENDENT
    * (each slices its own subspace of the already-checkpointed frame,
    * with its own seed), so they run as concurrent Spark jobs on a small
    * bounded pool: the result is bit-identical to the sequential loop —
    * same data, same seeds, no shared mutable state — but the wall clock
    * stops paying m × per-job scheduling latency, which dominated these
    * fits at sample scale (the capped training frame is ~256 rows per
    * centroid by design). Each fit is [[kMeansCenters]]: the fit
    * `ml.clustering.KMeans` makes, bit for bit, in only the jobs of its
    * initialization and iterations (ml adds about three per fit).
    */
  private def fitCodebooks(unit: DataFrame, m: Int, nCodes: Int,
      subDim: Int): Vector[Vector[Vector[Double]]] = {
    import org.apache.spark.ml.functions.array_to_vector
    // pool of 8, measured (round-21 OptProbe, t118 warmed passes): 16
    // concurrent fits on local[32] DOUBLED the job time (12 s -> 21 s wall,
    // 25 s -> 122 s job-sum) — each fit spawns 32-task stages, so wave
    // width 8 already saturates the box and wider waves just time-slice.
    // Results are pool-size-independent (per-fit seeds, no shared state).
    graft.core.Par.all((0 until m).map { s => () =>
      val train = unit.select(
        array_to_vector(slice(col("__u"), s * subDim + 1, subDim)).as("features"))
      kMeansCenters(train, nCodes, 42L + s).map(_.toVector).toVector
    }, threads = 8).toVector
  }

  /** Deterministic training-sample cap: when the frame holds more than
    * `cap` rows, keep each row iff the repo's keyed md5 Bernoulli
    * ([[Sampling.bernoulli]] — a pure function of the data, so the SAMPLE
    * is identical under any partitioning, unlike `df.sample`) passes at
    * rate cap/n, then re-layout the survivors canonically
    * (hash-repartition + in-partition sort, both pure functions of the
    * key), so the k-means fit itself is repartition-proof. Uncapped fits
    * keep the historical per-input-layout determinism and their exact
    * plans. The key may be an id or the vector itself (arrays cast to
    * their deterministic string form inside the sampler).
    */
  private[operators] def sampleForFit(df: DataFrame, keyCol: Column,
      cap: Long): DataFrame = {
    if (cap <= 0) return df
    val n = df.count()
    if (n <= cap) return df
    df.where(Sampling.bernoulli(keyCol, cap.toDouble / n))
      .repartition(32, xxhash64(keyCol.cast("string")))
      .sortWithinPartitions(xxhash64(keyCol.cast("string")))
  }

  /** The centers `ml.clustering.KMeans` with `k`, `seed` and 10 iterations
    * fits on the vector column `features` of `train`, found with the same
    * mllib k-means, the same parameters (ml's init mode, init steps, tol
    * and distance) and the same rows, null and NaN vectors rejected as ml
    * rejects them. Bit-identical to the ml fit (a spec pins it), minus its
    * jobs around the fit: the solver probe's `first` over a summary and
    * the training summary's transform and cluster-size collect.
    */
  private[operators] def kMeansCenters(train: DataFrame, k: Int,
      seed: Long): Array[Array[Double]] = {
    val ml = new org.apache.spark.ml.clustering.KMeans()
    val points = train
      .select(org.apache.spark.ml.GraftMlBridge.checkNonNanVectors(col("features")))
      .rdd.map(r => org.apache.spark.mllib.linalg.Vectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](0)))
    new org.apache.spark.mllib.clustering.KMeans().setK(k).setSeed(seed)
      .setMaxIterations(10).setInitializationMode(ml.getInitMode)
      .setInitializationSteps(ml.getInitSteps).setEpsilon(ml.getTol)
      .setDistanceMeasure(ml.getDistanceMeasure)
      .run(points).clusterCenters.map(_.toArray)
  }

  /** Train `m` per-subspace codebooks of `nCodes` centroids each over the
    * unit-normalized corpus. One narrow pass materializes the normalized
    * vectors once (localCheckpoint); each fit then slices its own subspace —
    * m driver-coordinated fits over nCodes×subDim driver-scale state.
    *
    * `maxTrainRows` caps what the fits SEE (default `256 × nCodes` — the
    * sizing rule above says codebooks must not outrun the corpus, and past
    * ~256 samples per centroid more data stops moving the centers): at
    * real scale an uncapped call would be m+1 distributed k-means fits
    * over the full 100 TB. The cap is the deterministic content-keyed
    * Bernoulli of [[sampleForFit]] (expected-size cap, sample invariant
    * under repartitioning); corpora at or under the cap — every driver
    * SF — fit exactly as before. Pass `maxTrainRows = 0` to force the
    * full-corpus fit.
    */
  def train(corpus: DataFrame, vecCol: String, m: Int = 8,
      nCodes: Int = 16, maxTrainRows: Long = -1L): PqModel = {
    require(m >= 1 && nCodes >= 2, s"need m >= 1 and nCodes >= 2, got ($m, $nCodes)")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val subDim = dim / m
    val cap = if (maxTrainRows == -1L) 256L * nCodes else maxTrainRows
    val unit = sampleForFit(corpus, col(vecCol), cap)
      .select(unitize(col(vecCol)).as("__u")).localCheckpoint()
    PqModel(m, subDim, nCodes, fitCodebooks(unit, m, nCodes, subDim))
  }

  /** Train RESIDUAL codebooks over an assigned corpus: the fits see
    * `unit(vec) − centroid(cell)` (anchors = the float-rounded unit-space
    * coarse centroids verbatim), so each subspace codebook spends
    * its `nCodes` budget on the within-cell structure the coarse quantizer
    * left behind. Same determinism, sizing, and `maxTrainRows` contract as
    * [[train]].
    */
  def trainResidual(assigned: DataFrame, vecCol: String, cellCol: String,
      floatCentroids: Array[Array[Double]], m: Int, nCodes: Int,
      maxTrainRows: Long = -1L, rotate: Boolean = false): PqModel = {
    require(m >= 1 && nCodes >= 2, s"need m >= 1 and nCodes >= 2, got ($m, $nCodes)")
    val dim = assigned.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val subDim = dim / m
    val cap = if (maxTrainRows == -1L) 256L * nCodes else maxTrainRows
    val sampled = sampleForFit(assigned, col(vecCol), cap)
    val baseResid = residualCol(col(vecCol), col(cellCol), floatCentroids)
    if (!rotate) {
      val unit = sampled.select(baseResid.as("__u")).localCheckpoint()
      PqModel(m, subDim, nCodes, fitCodebooks(unit, m, nCodes, subDim),
        encoding = "residual")
    } else {
      // OPQ: the rotation trains on the SAME capped sample the codebooks
      // see (collected driver-side — 256 rows/centroid × dim doubles, the
      // k×dim class of driver state); codebooks then fit the rotated cloud
      val sample = sampled.select(baseResid.as("__r")).collect()
        .map(_.getSeq[Double](0).toArray)
      val rot = pcaPermRotation(sample, m, dim)
        .map(_.toVector).toVector
      val unit = sampled
        .select(graft.expressions.GraftFunctions
          .matVec(baseResid, rot).as("__u"))
        .localCheckpoint()
      PqModel(m, subDim, nCodes, fitCodebooks(unit, m, nCodes, subDim),
        encoding = "opq", rotation = Some(rot))
    }
  }

  /** PQ code of a vector: `array<int>` of length m, code s = nearest
    * codebook entry of subspace s (first-minimum tiebreak — the KMeans
    * findClosest rule). A pure narrow projection over the codegen'd
    * distance kernel; this is the column to PERSIST in place of (or beside)
    * the raw vectors.
    */
  def encode(vec: Column, model: PqModel): Column = {
    require(model.encoding == "raw",
      "encode(vec) is the raw layout; residual models need encodeResidual(vec, cell)")
    encodePrepared(unitize(vec), model)
  }

  /** Residual-layout code: quantizes `unit(vec) − centroid(cell)` — under
    * the model's OPQ rotation when it carries one (`encoding = "opq"`:
    * the rotation is part of the quantizer, so it applies identically at
    * build, append, and query time). The cell must be the vector's
    * assigned coarse cell, and the anchors must be the SAME
    * float-persisted (unit-space) centroids at every call site, or codes
    * stop being a pure per-vector function.
    */
  def encodeResidual(vec: Column, cell: Column, model: PqModel,
      floatCentroids: Array[Array[Double]]): Column = {
    require(model.isResidual,
      "encodeResidual needs a residual/opq-encoded model")
    encodePrepared(residualPrep(vec, cell, floatCentroids, model), model)
  }

  /** The prepared column both cell-anchored encodings quantize: the unit-
    * space residual, rotated by the model's OPQ rotation when present
    * (one native `graft_matvec` — the matrix rides a broadcast reference,
    * inside whole-stage codegen).
    */
  private def residualPrep(vec: Column, cell: Column,
      anchors: Array[Array[Double]], model: PqModel): Column = {
    val r = residualCol(vec, cell, anchors)
    model.rotation.fold(r)(rot =>
      graft.expressions.GraftFunctions.matVec(r, rot))
  }

  private def encodePrepared(prep: Column, model: PqModel): Column =
    graft.expressions.GraftFunctions.pqCodes(prep, model.codebooks)

  /** The query's per-subspace distance tables: `array<array<double>>`,
    * row s = squared L2 from the query's subspace-s slice to every entry of
    * codebook s — one `graft_l2sq_distances` call per subspace.
    */
  def queryLut(vec: Column, model: PqModel): Column = {
    require(model.encoding == "raw",
      "queryLut(vec) is the raw layout; residual models need queryLutResidual(vec, cell)")
    lutPrepared(unitize(vec), model)
  }

  /** Residual-layout LUT, one per (query, probed cell): tables over
    * `unit(query) − centroid(cell)`, so `ADC(codes, lut) ≈ ‖unit(q) −
    * unit(x)‖² = 2 − 2·cos(q, x)` exactly as in the raw layout — the
    * anchor cancels between the two sides. Still m×nCodes doubles per
    * probed cell (plan-literal scale); it rides the broadcast probe rows.
    */
  def queryLutResidual(vec: Column, cell: Column, model: PqModel,
      floatCentroids: Array[Array[Double]]): Column = {
    require(model.isResidual,
      "queryLutResidual needs a residual/opq-encoded model")
    // the rotation is orthogonal, so ‖R(q−a) − R(x−a)‖² = ‖(q−a)−(x−a)‖²:
    // rotated ADC answers the same geometric question, only the subspace
    // variance allocation changes
    lutPrepared(residualPrep(vec, cell, floatCentroids, model), model)
  }

  private def lutPrepared(prep: Column, model: PqModel): Column =
    graft.expressions.GraftFunctions.pqLuts(prep, model.codebooks)

  /** The ADC score — HOF twin of the native expression, kept for the
    * bit-parity spec (the native path is the one the scan uses).
    */
  def adcHof(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (c, row) => element_at(row, c + 1)),
      lit(0.0), (acc, v) => acc + v)

  /** Approximate top-k neighbors per query over PQ codes: the corpus scan
    * reads codes only (m ints/row — on a persisted coded table, 32× less
    * I/O than vectors), queries broadcast with their precomputed LUTs, and
    * each (row, query) costs m table lookups inside whole-stage codegen.
    * Output: (query_id, rank, neighbor_id, adist) — `adist` is the
    * quantized squared L2 on the unit sphere (2 − 2·cosine up to
    * quantization), ascending = most similar first.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, model: PqModel,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val coded = corpus.select(col(idCol).as("neighbor_id"),
      encode(col(vecCol), model).as("__codes"))
    val q = queries.select(col(idCol).as("query_id"),
      queryLut(col(vecCol), model).as("__lut"))
    val scored = coded.crossJoin(broadcast(q))
      .filter(if (excludeSelf) $"neighbor_id" =!= $"query_id" else lit(true))
      .select($"query_id", $"neighbor_id",
        graft.expressions.GraftFunctions.pqAdc($"__codes", $"__lut").as("adist"))
    val w = Window.partitionBy($"query_id").orderBy($"adist", $"neighbor_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"adist")
  }

  /** The production PQ query shape (FAISS's refine step): the code-only
    * ADC scan retrieves a `rerank`-sized candidate pool per query, exact
    * cosine re-ranks the POOL ONLY, and top-k of the re-rank is returned.
    * Raw ADC ranks carry the corpus-side quantization error — on weakly
    * separated neighbors (any near-uniform embedding cloud) that error
    * shuffles the head of the list, but it rarely pushes a true neighbor
    * out of a 10-20× pool; the exact re-rank then restores the head. The
    * expensive full-width vectors are fetched for nQueries×rerank rows via
    * an equi-join — never scanned: at 100 TB the scan stays 32× thin and
    * the re-rank reads a bounded sliver.
    *
    * Emitted sims are EXACT cosines (the [[Similarity.bruteForceTopK]]
    * metric) — approximation affects only which candidates reach the pool,
    * the same contract as the banded dedup tiers. Output:
    * (query_id, rank, neighbor_id, sim).
    */
  def pqTopKReranked(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, model: PqModel, rerank: Int = 50,
      excludeSelf: Boolean = true): DataFrame = {
    require(rerank >= k, s"rerank pool $rerank must be >= k=$k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pool = pqTopK(corpus, queries, idCol, vecCol, rerank, model, excludeSelf)
      .select($"query_id", $"neighbor_id")
    val exact = pool
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"))), Seq("query_id"))
      .select($"query_id", $"neighbor_id",
        Similarity.cosine($"__qv", $"__cv").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"sim")
  }

  /** Persist the IVF-PQ layout — the composition that IS the billion-scale
    * index (FAISS `IVFPQ` + refine): one parquet table PARTITIONED BY the
    * IVF cell, carrying per row the PQ code array AND the raw vector. A
    * query then pays three strictly shrinking reads: (1) the probed-cell
    * partition filter prunes `1 − nProbe/nCells` of the data at the SCAN;
    * (2) the ADC pass over the surviving rows reads the codes column only
    * (parquet column pruning — the 256-byte vector column is never
    * decoded); (3) the exact re-rank reads full vectors for the
    * pool ∩ probed cells only, re-applying the same partition filter.
    * Deterministic like [[Similarity.ivfBuild]] (same seed/layout rules);
    * `model` + the centroid table persist beside the cells for query time.
    */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, model: PqModel, indexDir: String,
      maxTrainRows: Long = -1L): Unit = {
    require(model.encoding == "raw",
      "ivfPqBuild writes the raw layout; use ivfPqBuildResidual for residual")
    ivfPqBuildImpl(corpus, idCol, vecCol, nCells, indexDir, maxTrainRows,
      residual = false, (_, _) => model)
  }

  /** Build the composed index in the CLASSIC IVF-ADC layout: PQ codes
    * quantize `unit(vec) − centroid(cell)` rather than the vector itself.
    * The ENTIRE residual layout lives in unit space — the coarse
    * quantizer trains on the unit-normalized corpus, so every persisted
    * centroid is its cell's k-means MEAN in unit space, per-cell
    * residuals are zero-mean, and the mixed-cell residual cloud each
    * subspace codebook quantizes carries strictly less variance than the
    * raw unit cloud (law of total variance). The same (m, nCodes) code
    * budget therefore ranks candidates materially better at raw-ADC
    * time — which at 100 TB means a smaller rerank pool (= less
    * full-vector I/O) for the same recall. The residual PQ model is
    * trained HERE (it needs the cell assignments), against the
    * float-rounded centroids the layout persists, so build, append, and
    * query all derive identical residuals. Layout: same four tables as
    * [[ivfPqBuild]], with `pq_model` carrying `encoding = "residual"` —
    * every consumer dispatches on that marker and pre-residual indexes
    * keep working.
    *
    * @return the trained residual model (also persisted in the layout)
    */
  def ivfPqBuildResidual(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, m: Int, nCodes: Int, indexDir: String,
      maxTrainRows: Long = -1L): PqModel =
    ivfPqBuildImpl(corpus, idCol, vecCol, nCells, indexDir, maxTrainRows,
      residual = true, (assigned, floatCenters) =>
        trainResidual(assigned, "cv", "cell", floatCenters, m, nCodes,
          maxTrainRows))

  /** [[ivfPqBuildResidual]] with the OPQ pre-rotation (`encoding =
    * "opq"`): residuals are rotated by the PCA-permutation basis of their
    * own sample covariance before subspace splitting, so each codebook's
    * budget covers an equal mix of high- and low-variance directions.
    * Measured (round-16 `GateProbe opq` sweep, pool recall@5 vs plain
    * residual at identical budget; full table in NOTES_r16): ahead at
    * every tight-rerank config — np5/rr25 reads 0.733→0.787 (sf0.001),
    * 0.720→0.733 (sf0.01), 0.653→0.707 (sf0.1); np8/rr25 reads
    * 0.787→0.813, 0.760→0.813, 0.653→0.720 — and ties-or-ahead at
    * rerank=100 (0.853→0.853, 0.840→0.853, 0.867→0.893). The wins
    * concentrate at the small rerank pool: comparable recall from a ~4×
    * smaller full-vector fetch, which at 100 TB is the refine-stage I/O
    * bill. Same layout,
    * lifecycle, and determinism contract as the residual encoding; the
    * rotation persists in `pq_model.rotation` and every consumer applies
    * it through the model.
    */
  def ivfPqBuildOpq(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, m: Int, nCodes: Int, indexDir: String,
      maxTrainRows: Long = -1L): PqModel =
    ivfPqBuildImpl(corpus, idCol, vecCol, nCells, indexDir, maxTrainRows,
      residual = true, (assigned, floatCenters) =>
        trainResidual(assigned, "cv", "cell", floatCenters, m, nCodes,
          maxTrainRows, rotate = true))

  /** Shared build: coarse fit (capped like [[train]] — default
    * `256 × nCells` rows), assignment, then the four-table layout write.
    * The residual layout's coarse quantizer (and its drift baseline)
    * lives in UNIT space; the raw layout keeps the historical raw-space
    * quantizer. `mkModel` sees the assigned frame and the float-rounded
    * centroids so the residual path can train its codebooks in place.
    */
  private def ivfPqBuildImpl(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, indexDir: String, maxTrainRows: Long, residual: Boolean,
      mkModel: (DataFrame, Array[Array[Double]]) => PqModel): PqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val space: Column => Column =
      if (residual) unitize else c => c
    val coarseCap = if (maxTrainRows == -1L) 256L * nCells else maxTrainRows
    val train = sampleForFit(corpus.select(col(idCol), col(vecCol)),
        col(idCol), coarseCap)
      .select(array_to_vector(space(col(vecCol))).as("features"))
    val centers = kMeansCenters(train, nCells, 42L)
    val floatCenters = centers.map(_.map(_.toFloat.toDouble))
    // cell assignment runs against the FLOAT-ROUNDED centroid table the
    // layout persists — the exact matrix + argmin + first-min tiebreak
    // [[ivfPqAppend]] uses — so build-time and append-time assignment are
    // literally one function and "appended codes are bit-identical to a
    // build over the union" holds with no boundary-rounding caveat (a
    // km.transform assignment over double-precision centers could land a
    // Voronoi-boundary vector in a different cell than an append would)
    val bd = graft.expressions.GraftFunctions
      .l2sqDistances(space(col(vecCol)), floatCenters)
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), bd.as("__d"))
      .select($"neighbor_id", $"cv",
        (array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"))
    val model = mkModel(assigned, floatCenters)
    val codes =
      if (model.isResidual)
        encodeResidual($"cv", $"cell", model, floatCenters)
      else encode($"cv", model)
    assigned
      .select($"neighbor_id", codes.as("codes"), $"cv", $"cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells")
    centers.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }
      .toSeq.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    // the rotation (opq only) persists beside the codebooks — same value
    // on every row for a flat, version-tolerant schema (absent column =
    // pre-opq layout; null = unrotated encoding)
    spark.createDataset(model.codebooks.zipWithIndex.map {
      case (cb, s) => (s, cb.map(_.toArray).toArray)
    }).toDF("subspace", "codebook")
      .withColumn("encoding", lit(model.encoding))
      .withColumn("rotation", model.rotation.fold(
        lit(null).cast("array<array<double>>"))(typedLit(_)))
      .write.mode("overwrite").parquet(s"$indexDir/pq_model")
    // per-cell drift baseline for [[ivfPqAppend]] ([[Similarity.ivfBuild]]'s
    // discipline — one extra narrow pass, an nCells-row table), measured
    // in the layout's own space against the SAME float-rounded matrix
    // appends measure against, so baseline and append-time distances are
    // commensurable to the last bit
    val cd = graft.expressions.GraftFunctions
      .l2sqDistances(space(col(vecCol)), floatCenters)
    corpus.select(cd.as("__d"))
      .select((array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"),
        array_min($"__d").as("__min"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), avg($"__min").as("mean_l2sq"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
    model
  }

  /** The schemas [[ivfPqBuildImpl]] writes, for readers that must not
    * infer them (inference is a Spark job per read). The `cells` id and
    * vector columns keep the caller's types, read from one footer on the
    * driver; `cell` is the partition column.
    */
  private val PqModelSchema = StructType(Seq(
    StructField("subspace", IntegerType),
    StructField("codebook", ArrayType(ArrayType(DoubleType))),
    StructField("encoding", StringType),
    StructField("rotation", ArrayType(ArrayType(DoubleType)))))
  private val CentroidsSchema = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("centroid", ArrayType(FloatType))))
  private def cellsSchema(root: String): StructType = {
    val f = IndexFs.footerSchema(s"$root/cells")
    StructType(Seq(f("neighbor_id"), StructField("codes", ArrayType(IntegerType)),
      f("cv"), StructField("cell", IntegerType)))
  }

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame =
    spark.read.schema(CentroidsSchema).parquet(s"$root/centroids")

  /** The float-persisted centroid matrix, row i = cell i. The table holds
    * nCells rows, so they are sorted on the driver, not by a Spark sort.
    */
  private def centroidMatrix(centroids: DataFrame): Array[Array[Double]] = {
    val cen = centroids.collect().sortBy(_.getInt(0))
    require(cen.nonEmpty && cen.zipWithIndex.forall {
        case (r, i) => r.getInt(0) == i },
      "centroid table must carry contiguous cells 0..n-1")
    cen.map(_.getSeq[Float](1).toArray.map(_.toDouble))
  }

  /** Grow a persisted IVF-PQ index under BOTH frozen quantizers — the
    * composed-layout analog of [[Similarity.ivfAppend]]: cells come from
    * the float-persisted centroid table (the authoritative coarse
    * quantizer, Euclidean argmin with the first-min tiebreak), codes from
    * the persisted PQ model, both as one narrow projection plus the
    * partitioned append — no join, no shuffle, history never read. Returns
    * the same [[Similarity.IvfAppendStats]] drift reading as the plain
    * IVF append (the coarse quantizer is the drift sensor; PQ codebooks
    * drift with it). When the ratio sustains above ~1.5, [[ivfPqRebuild]]
    * re-trains both quantizers behind the same write-then-swap — and note
    * [[Similarity.ivfCompact]] compacts this layout too, carrying
    * `pq_model` and `stats` through the swap.
    */
  /** Assignment + encoding under the FROZEN quantizers: each vector's
    * cell from the float-persisted centroid matrix (the layout's own
    * metric — unit space for the residual/opq encodings) and its codes
    * from the persisted model — the pure per-vector projection
    * [[ivfPqAppend]] and [[Similarity.ivfUpsert]] both write: no join,
    * no shuffle, bit-identical to what a build over the union would
    * store. The anchors ARE the same float centroids as the cells.
    */
  private[operators] def assignAndEncode(batch: DataFrame, idCol: String,
      vecCol: String, model: PqModel,
      matrix: Array[Array[Double]]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val d = graft.expressions.GraftFunctions.l2sqDistances(
      if (model.isResidual) unitize(col(vecCol)) else col(vecCol), matrix)
    val withCell = batch
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), d.as("__d"))
      .select($"neighbor_id", $"cv",
        (array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"))
    val codes =
      if (model.isResidual) encodeResidual($"cv", $"cell", model, matrix)
      else encode($"cv", model)
    withCell.select($"neighbor_id", codes.as("codes"), $"cv", $"cell")
  }

  def ivfPqAppend(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      newVectors: DataFrame, idCol: String,
      vecCol: String): Similarity.IvfAppendStats =
      IndexLease.withLease(indexDir) {
    import spark.implicits._
    // resolve the live generation once: an in-place append extends the
    // generation it reads, never creates one
    val root = IncrementalDedup.readRoot(indexDir)
    val model = loadModel(spark, root)
    val matrix = centroidMatrix(readCentroids(spark, root))
    // loud guards BEFORE the write (Similarity.ivfDelete's re-add
    // contract + the upsert-version overlay)
    Similarity.requireNotTombstoned(spark, root, newVectors, idCol)
    Similarity.requireNotUpserted(spark, root, newVectors, idCol)
    assignAndEncode(newVectors, idCol, vecCol, model, matrix)
      .write.mode("append").partitionBy("cell").parquet(s"$root/cells")
    val d = graft.expressions.GraftFunctions.l2sqDistances(
      if (model.isResidual) unitize(col(vecCol)) else col(vecCol),
      matrix)

    // the same two-sensor drift reading as Similarity.ivfAppend (shared
    // fold): batch per-cell mean assigned l2sq vs the build baseline over
    // THIS batch's cell mixture, plus the mixture total-variation — on
    // the unit-space residual layout the distance ratio SATURATES (a
    // constant shift read 0.979 while concentrating the batch into a
    // couple of cells), so the mixture sensor is the one that sees
    // concentration drift here
    val batch = newVectors.select(d.as("__d"))
      .select((array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"),
        array_min($"__d").as("__min"))
      .groupBy($"cell").agg(count(lit(1)).as("bn"), sum($"__min").as("bsum"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
    Similarity.driftReading(spark, root, batch)
  }

  /** Re-train BOTH quantizers of a composed IVF-PQ index over everything it
    * holds and swap the result in atomically — the composed-layout analog of
    * [[Similarity.ivfRebuild]], and the ACTION [[ivfPqAppend]]'s drift ratio
    * points to: after enough appends of a drifted distribution, the frozen
    * coarse centroids mis-route vectors AND the frozen PQ codebooks quantize
    * them badly — both must re-fit. Builds into `indexDir.rebuild` staging
    * and commits via [[graft.operators.IncrementalDedup.replaceDir]]
    * (stop appenders/queries first; `recoverDir` heals the crash windows).
    * The fresh build re-baselines `stats`, so post-rebuild appends measure
    * drift against quantizers that have seen everything.
    *
    * PQ layout (`m`, `nCodes`) defaults to the index's CURRENT model — a
    * rebuild re-fits codebooks, it does not silently change the storage
    * contract; pass explicit values to re-size (e.g. growing nCodes with
    * the corpus, the [[train]] sizing rule).
    *
    * @return number of vectors in the rebuilt index
    */
  def ivfPqRebuild(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      nCells: Int, m: Option[Int] = None,
      nCodes: Option[Int] = None,
      keepGenerations: Int = 2): Long = IndexLease.withLease(indexDir) {
    val root = IncrementalDedup.readRoot(indexDir)
    val prev = loadModel(spark, root)
    // rebuild trains on and re-writes the LIVE rows only (upsert delta
    // folded); the generation commit drops the tombstone table and the
    // delta with the retired generation
    val cells = Similarity.liveRows(spark, root,
        spark.read.schema(cellsSchema(root)).parquet(s"$root/cells"))
      .select(col("neighbor_id"), col("cv")).localCheckpoint()
    val n = cells.count()
    val next = s"$indexDir.rebuild"
    IncrementalDedup.clearStaging(next)
    // the ENCODING is part of the storage contract too: a rebuild re-fits
    // quantizers (opq: rotation included — it re-trains on the
    // accumulated residual cloud) but keeps the layout version the index
    // already speaks
    if (prev.encoding == "opq")
      ivfPqBuildOpq(cells, "neighbor_id", "cv", nCells,
        m.getOrElse(prev.m), nCodes.getOrElse(prev.nCodes), next)
    else if (prev.encoding == "residual")
      ivfPqBuildResidual(cells, "neighbor_id", "cv", nCells,
        m.getOrElse(prev.m), nCodes.getOrElse(prev.nCodes), next)
    else {
      val model = train(cells, "cv", m.getOrElse(prev.m),
        nCodes.getOrElse(prev.nCodes))
      ivfPqBuild(cells, "neighbor_id", "cv", nCells, model, next)
    }
    IncrementalDedup.commitGeneration(indexDir, next, keepGenerations)
    n
  }

  /** Load the PQ model persisted by [[ivfPqBuild]] /
    * [[ivfPqBuildResidual]], read with its known schema and ordered by
    * subspace on the driver (the table holds m rows). Indexes written
    * before the layout-version marker read `encoding` as null and load as
    * `"raw"` — exactly what they are — and a null or absent `rotation`
    * loads as none, so they keep querying unchanged.
    *
    * Resolves the LIVE generation itself ([[IncrementalDedup.readRoot]] —
    * idempotent when the caller already resolved: a generation dir has no
    * nested generations), so a caller holding the raw index dir can never
    * read a retired generation's model — after one compact/rebuild the
    * root copy is stale, after two it is GONE, and a path-level `loadModel`
    * would serve wrong-then-crash exactly on the index the on-call
    * diagnostics most need.
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): PqModel = {
    val rows = spark.read.schema(PqModelSchema)
      .parquet(s"${IncrementalDedup.readRoot(indexDir)}/pq_model")
      .collect().sortBy(_.getInt(0))
    val codebooks = rows.map(_.getSeq[scala.collection.Seq[Double]](1)
      .map(_.toVector).toVector).toVector
    val encoding = if (rows.head.isNullAt(2)) "raw" else rows.head.getString(2)
    val rotation =
      if (rows.head.isNullAt(3)) None
      else Some(rows.head.getSeq[scala.collection.Seq[Double]](3)
        .map(_.toVector).toVector)
    PqModel(codebooks.length, codebooks.head.head.length,
      codebooks.head.length, codebooks, encoding, rotation)
  }

  /** Query a persisted IVF-PQ index: probe cells come from the broadcast
    * centroid table ([[Similarity.ivfQuery]]'s cosine probe rule and static
    * `IN` partition filter), the ADC pool forms over the probed cells'
    * CODES column, and the exact re-rank re-reads only pool rows — every
    * stage prunes before the next pays. Output like [[pqTopKReranked]]:
    * (query_id, rank, neighbor_id, sim) with EXACT cosine sims.
    *
    * THIS IS ALSO THE BATCHED PATH ([[Similarity.ivfQuery]]'s contract):
    * a Q-row `queries` frame is one union-of-probed-cells read, one ADC
    * pool with a query-partitioned rerank window, and one exact refine —
    * driver-job count constant in Q (spec-pinned), each query's rows
    * value-identical to its single-row call; the batch's residual LUTs
    * ride one broadcast probe frame.
    */
  def ivfPqQuery(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, rerank: Int = 50): DataFrame =
    ivfPqQueryImpl(spark, indexDir, queries, idCol, vecCol, k, nProbe,
      rerank, identity)

  /** FILTERED composed query ([[graft.operators.Similarity.ivfQueryFiltered]]'s
    * IVF-PQ sibling): the allowed-id semi-join restricts the CODES scan
    * BEFORE ADC pooling, so the whole rerank budget is spent on allowed
    * candidates — restricting after the pool would let disallowed rows
    * crowd out allowed ones and silently shrink the effective pool. Same
    * recall contract as the IVF form: probes are chosen by the query
    * alone, so raise nProbe (and keep rerank sized to the ALLOWED corpus
    * fraction) as the filter gets more selective; at nProbe = nCells with
    * rerank ≥ the allowed corpus this is exactly brute force over the
    * allowed set (spec-pinned).
    */
  def ivfPqQueryFiltered(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String, k: Int,
      nProbe: Int = 4, rerank: Int = 50): DataFrame =
    ivfPqQueryImpl(spark, indexDir, queries, idCol, vecCol, k, nProbe,
      rerank, coded => coded.join(
        allowed.select(col(allowedIdCol).as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_semi"))

  /** [[ivfPqQueryFiltered]] with the probe correction applied from
    * MEASURED selectivity ([[Similarity.ivfQueryFilteredAdaptive]]'s
    * composed sibling, same two count passes and the same
    * [[Similarity.nProbeFor]] rule): as the filter tightens, probes walk
    * to the cell count and the query degrades toward pruned filtered
    * brute force instead of silently losing recall.
    */
  def ivfPqQueryFilteredAdaptive(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      allowed: DataFrame, allowedIdCol: String, k: Int,
      baseNProbe: Int = 4, rerank: Int = 50): DataFrame = {
    val root = IncrementalDedup.readRoot(indexDir)
    // selectivity over LIVE rows only (Similarity's adaptive sibling rule)
    val cells = Similarity.liveRows(spark, root,
      spark.read.schema(cellsSchema(root)).parquet(s"$root/cells"))
    val nCells = readCentroids(spark, root).count().toInt
    val total = cells.count()
    val kept = cells.join(
      allowed.select(col(allowedIdCol).as("neighbor_id")).distinct(),
      Seq("neighbor_id"), "left_semi").count()
    val sel = if (total == 0) 1.0
      else math.min(1.0, math.max(kept.toDouble / total, 1.0 / total))
    ivfPqQueryFiltered(spark, indexDir, queries, idCol, vecCol, allowed,
      allowedIdCol, k, Similarity.nProbeFor(nCells, baseNProbe, sel), rerank)
  }

  private def ivfPqQueryImpl(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, rerank: Int,
      restrict: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    require(rerank >= k, s"rerank pool $rerank must be >= k=$k")
    // pin the live generation for the whole query (reader-vs-swap safety)
    val root = IncrementalDedup.readRoot(indexDir)
    val model = loadModel(spark, root)
    val centroids = readCentroids(spark, root)
    val cells = cellsSchema(root)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy($"query_id").orderBy($"cdist", $"cell")
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", -Similarity.dot($"qv", $"centroid") /
        (sqrt(Similarity.norm2($"qv")) * sqrt(Similarity.norm2($"centroid"))))
      .withColumn("prn", row_number().over(probeW))
      .filter($"prn" <= nProbe)
      .select($"query_id", $"qv", $"cell")
    val probeCells = probes.select($"cell".cast("int")).distinct()
      .as[Int].collect().toSeq

    // ADC pool: codes-only columns of the probed cells (ReadSchema carries
    // codes, never cv), LUTs ride the broadcast probe rows. Residual
    // layout: one LUT per (query, probed cell) from unit(q) − anchor(cell)
    // — the anchors come from the same float-persisted centroid table the
    // probes already read (nCells × dim driver-scale, like the probe join)
    // partition-prune, then the tombstone anti-join (deleted ids must not
    // crowd the rerank pool), then the caller's restriction
    val coded = restrict(Similarity.liveRows(spark, root,
      spark.read.schema(cells).parquet(s"$root/cells")
        .filter($"cell".isInCollection(probeCells))
        .select($"cell", $"neighbor_id", $"codes"),
      _.filter($"cell".isInCollection(probeCells))))
    val lut =
      if (model.isResidual)
        queryLutResidual($"qv", $"cell", model, centroidMatrix(centroids))
      else queryLut($"qv", model)
    val withLut = probes.select($"query_id", $"cell", lut.as("__lut"))
    val poolW = Window.partitionBy($"query_id").orderBy($"adist", $"neighbor_id")
    val pool = coded.join(broadcast(withLut), Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id",
        graft.expressions.GraftFunctions.pqAdc($"codes", $"__lut").as("adist"))
      .withColumn("prank", row_number().over(poolW))
      .filter($"prank" <= rerank)
      .select($"query_id", $"neighbor_id")

    // exact refine: full vectors for pool rows only, same partition filter
    // the refine read resolves upsert versions too: an upserted id's
    // pool row must refine against its NEW vector, never the stale base
    val vecs = Similarity.liveRows(spark, root,
        spark.read.schema(cells).parquet(s"$root/cells")
          .filter($"cell".isInCollection(probeCells))
          .select($"cell", $"neighbor_id", $"cv"),
        _.filter($"cell".isInCollection(probeCells)))
      .select($"neighbor_id", $"cv")
    val exact = pool.join(vecs, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select($"query_id", $"neighbor_id",
        Similarity.cosine($"qv", $"cv").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"sim")
  }

  // --------------------------------------------------------- OPQ question

  /** PCA-permutation rotation for a residual sample: eigen-directions of
    * the sample covariance ordered by decreasing eigenvalue, dealt
    * ROUND-ROBIN across the m subspaces (eigen j lands at output slot
    * `(j mod m)·subDim + j div m`), so every subspace receives an equal
    * mix of high- and low-variance directions — the cheap non-parametric
    * OPQ initialization (Ge et al., "Optimized Product Quantization",
    * CVPR 2013; the same pre-rotation FAISS's OPQ starts from). Returned
    * as output-row vectors: `rotated(i) = rows(i) · x`.
    */
  private def pcaPermRotation(sample: Array[Array[Double]], m: Int,
      dim: Int): Array[Array[Double]] = {
    val n = sample.length
    require(n > 1, s"rotation sample too small: $n")
    val mean = new Array[Double](dim)
    sample.foreach(r => (0 until dim).foreach(i => mean(i) += r(i)))
    (0 until dim).foreach(i => mean(i) /= n)
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { r =>
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) {
          cov(i)(j) += (r(i) - mean(i)) * (r(j) - mean(j)); j += 1
        }
        i += 1
      }
    }
    for (i <- 0 until dim; j <- i until dim) {
      cov(i)(j) /= (n - 1); cov(j)(i) = cov(i)(j)
    }
    val es = breeze.linalg.eigSym(
      breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => cov(i)(j)))
    val order = (0 until dim).sortBy(i => -es.eigenvalues(i))
    val sub = dim / m
    val rows = new Array[Array[Double]](dim)
    for (j <- 0 until dim) {
      val slot = (j % m) * sub + j / m
      rows(slot) = Array.tabulate(dim)(r => es.eigenvectors(r, order(j)))
    }
    rows
  }

  /** The OPQ decision harness (in-memory, no persisted layout): rerank-
    * pool recall@k of the residual encoding with and without the
    * PCA-permutation rotation, at IDENTICAL (nCells, m, nCodes, nProbe,
    * rerank) budget, through the same per-cell-anchor ADC pool math
    * [[ivfPqQuery]] runs (cosine probe rule, per-(query, cell) LUTs,
    * first-min tiebreaks, seeds 42+s). Orthogonal rotations preserve L2,
    * so the two variants answer the same geometric question — only the
    * subspace variance allocation differs. The round-16 sweep measured
    * the rotation AHEAD at every tight-budget config (+0.05 pool recall
    * at rerank=25 on all three SFs, ties at rerank=100) — which is what
    * earned [[ivfPqBuildOpq]] its persisted encoding; the probe remains
    * the tool that re-answers the question on new corpora.
    *
    * @return (plain residual pool recall, rotated residual pool recall)
    */
  def opqProbe(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 8, m: Int = 16, nCodes: Int = 16, k: Int = 5,
      nProbe: Int = 5, rerank: Int = 25,
      nQueries: Int = 15): (Double, Double) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector

    val train = sampleForFit(corpus.select(col(idCol), col(vecCol)),
        col(idCol), 256L * nCells)
      .select(array_to_vector(unitize(col(vecCol))).as("features"))
    val centers = kMeansCenters(train, nCells, 42L).map(_.map(_.toFloat.toDouble))
    val dim = centers.head.length
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val bd = graft.expressions.GraftFunctions
      .l2sqDistances(unitize(col(vecCol)), centers)
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), bd.as("__d"))
      .select($"neighbor_id", $"cv",
        (array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"))
      .localCheckpoint()

    val rotSample = sampleForFit(assigned, col("neighbor_id"), 256L * nCodes)
      .select(residualCol($"cv", $"cell", centers).as("__r"))
      .as[Seq[Double]].collect().map(_.toArray)
    val rot = pcaPermRotation(rotSample, m, dim).map(_.toVector).toVector

    val qIds = assigned.select($"neighbor_id").orderBy($"neighbor_id")
      .limit(nQueries).as[Long].collect().toSeq
    val queryRows = assigned.filter($"neighbor_id".isInCollection(qIds))
    val bf = Similarity.bruteForceTopK(assigned, queryRows,
        "neighbor_id", "cv", k)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    val denom = bf.count().toDouble

    def poolRecall(rotation: Option[Vector[Vector[Double]]]): Double = {
      def resid(vec: Column, cell: Column): Column = {
        val r = residualCol(vec, cell, centers)
        rotation.fold(r)(graft.expressions.GraftFunctions.matVec(r, _))
      }
      val fitFrame = sampleForFit(assigned, col("neighbor_id"), 256L * nCodes)
        .select(resid($"cv", $"cell").as("__u")).localCheckpoint()
      val model = PqModel(m, dim / m, nCodes,
        fitCodebooks(fitFrame, m, nCodes, dim / m), encoding = "residual")
      val coded = assigned
        .select($"neighbor_id", $"cell",
          encodePrepared(resid($"cv", $"cell"), model).as("codes"))
        .localCheckpoint()
      val centroids = centers.zipWithIndex
        .map { case (c, i) => (i, c.map(_.toFloat)) }
        .toSeq.toDF("cell", "centroid")
      val q = queryRows.select($"neighbor_id".as("query_id"), $"cv".as("qv"))
      val probeW = Window.partitionBy($"query_id").orderBy($"cdist", $"cell")
      val probes = q.crossJoin(broadcast(centroids))
        .withColumn("cdist", -Similarity.dot($"qv", $"centroid") /
          (sqrt(Similarity.norm2($"qv")) * sqrt(Similarity.norm2($"centroid"))))
        .withColumn("prn", row_number().over(probeW))
        .filter($"prn" <= nProbe)
        .select($"query_id", $"qv", $"cell")
      val withLut = probes.select($"query_id", $"cell",
        lutPrepared(resid($"qv", $"cell"), model).as("__lut"))
      val poolW = Window.partitionBy($"query_id")
        .orderBy($"adist", $"neighbor_id")
      val pool = coded.join(broadcast(withLut), Seq("cell"))
        .filter($"neighbor_id" =!= $"query_id")
        .select($"query_id", $"neighbor_id",
          graft.expressions.GraftFunctions.pqAdc($"codes", $"__lut").as("adist"))
        .withColumn("prank", row_number().over(poolW))
        .filter($"prank" <= rerank)
        .select($"query_id", $"neighbor_id")
      if (denom == 0) 1.0
      else pool.join(bf, Seq("query_id", "neighbor_id")).count() / denom
    }
    (poolRecall(None), poolRecall(Some(rot)))
  }
}
