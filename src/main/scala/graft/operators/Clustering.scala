package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space clustering — the semantic grouping step behind
  * cluster-balanced sampling, topic-stratified holdouts, and SemDeDup-style
  * semantic dedup in training-data pipelines.
  *
  * This is Lloyd's k-means made fully DETERMINISTIC, because a clustering
  * that changes when the cluster resizes is useless as dataset lineage:
  *   - init: the k vectors with the smallest `(md5(id), id)` draw — the same
  *     deterministic "shuffle" used by the sampling operators, so the seed
  *     set is a pure function of the data;
  *   - assignment: argmin of squared L2 over the broadcast centroids,
  *     first-index tiebreak (native codegen'd distance expression — no UDF,
  *     no interpreted HOF lambda trees in the per-row loop);
  *   - update: per-(cluster, dim) sums aggregated as EXACT decimals (double
  *     addition is not associative — decimal sums make the reduce
  *     order-invariant), one IEEE double division per component on the
  *     driver.
  *
  * Scale shape: each iteration is one narrow assignment projection plus one
  * `posexplode → partial-aggregated groupBy(cluster, dim)` whose result is
  * `k × dim` rows — the only data the driver ever holds. The input vectors
  * are cached once up front; iterations stop early when the centroids reach
  * a fixed point.
  */
object Clustering {

  final case class KMeansModel(
      centroids: Array[Array[Double]],
      inertia: Seq[java.math.BigDecimal],
      iters: Int)

  /** Squared-L2 distances to each centroid as an array column. Native
    * one-pass expression (codegen'd); the built-in-functions construction
    * it replaced is the bit-parity spec's twin — higher-order functions
    * are CodegenFallback, and k interpreted lambda-tree evaluations per
    * row dominated the kmeans-family queries' wall-clock.
    */
  private def distances(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.expressions.GraftFunctions.l2sqDistances(vec, centroids)

  /** Nearest-centroid assignment: `id`, `cluster` (0-based), `dist2`. */
  def assign(df: DataFrame, idCol: Column, vecCol: Column,
      centroids: Array[Array[Double]]): DataFrame = {
    val d = distances(vecCol, centroids)
    df.select(idCol.as("id"), d.as("__d"))
      .select(col("id"),
        (array_position(col("__d"), array_min(col("__d"))) - 1).cast("bigint").as("cluster"),
        array_min(col("__d")).as("dist2"))
  }

  /** SemDeDup-style semantic dedup: k-means clusters bound the candidate
    * set, then embeddings that are near-duplicate WITHIN a cluster
    * (cosine ≥ `tau`) collapse to one survivor per connected near-dup group
    * (smallest id — swap in [[DedupClusters.dropDuplicateClustersBy]] for a
    * quality-chosen survivor). Pairwise similarity is only ever computed
    * inside a cluster, which is the whole point of the design: the quadratic
    * blow-up is bounded by the largest cluster, and `k` is the knob that
    * bounds it — size `k` so the expected cluster is a few thousand rows and
    * the candidate join stays rectangular at any corpus size.
    *
    * Every stage is deterministic ([[kmeans]] is md5-seeded with exact-
    * decimal updates; the component labels are order-free minima), so the
    * survivor set is a pure function of the data — rerun- and
    * repartition-stable, which is what makes it usable as dataset lineage.
    *
    * Output: `id`, `cluster`, `survivor` (false = drop as a semantic dup).
    */
  def semDedup(df: DataFrame, idCol: Column, vecCol: Column, k: Int,
      tau: Double, maxIters: Int = 4): DataFrame = {
    val vecs = df.select(idCol.as("id"), vecCol.cast("array<double>").as("vec"))
    val (assigned, _) = kmeans(vecs, col("id"), col("vec"), k, maxIters)
    val clustered = vecs.join(assigned.select(col("id"), col("cluster")), Seq("id"))
    val left = clustered.select(col("cluster"), col("id").as("id_a"), col("vec").as("__va"))
    val right = clustered.select(col("cluster"), col("id").as("id_b"), col("vec").as("__vb"))
    val pairs = left.join(right, Seq("cluster"))
      .where(col("id_a") < col("id_b") &&
        Similarity.cosine(col("__va").cast("array<float>"),
          col("__vb").cast("array<float>")) >= tau)
      .select(col("id_a"), col("id_b"))
    val comps = DedupClusters.connectedComponentsStars(
      clustered.select(col("id")), pairs, "id")
    clustered.select(col("id"), col("cluster"))
      .join(comps, Seq("id"))
      .select(col("id"), col("cluster"),
        (col("id") === col("component")).as("survivor"))
  }

  /** Deterministic Lloyd's k-means; returns the final assignment and the
    * model (final centroids + per-iteration exact-decimal inertia).
    */
  def kmeans(df: DataFrame, idCol: Column, vecCol: Column, k: Int,
      maxIters: Int = 8): (DataFrame, KMeansModel) = {
    require(k >= 1 && maxIters >= 1)
    val vecs = df.select(idCol.as("id"), vecCol.cast("array<double>").as("vec")).cache()
    try {
      val seeds = vecs
        .orderBy(md5(col("id").cast("string")), col("id").cast("string"))
        .limit(k).select(col("vec")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(seeds.length == k, s"need at least k=$k rows, got ${seeds.length}")
      var centroids = seeds
      var inertia = Vector.empty[java.math.BigDecimal]
      var it = 0
      var converged = false
      while (it < maxIters && !converged) {
        val d = distances(col("vec"), centroids)
        val assigned = vecs.select(
          (array_position(d, array_min(d)) - 1).cast("int").as("__c"),
          col("vec"), array_min(d).as("__md"))
        // ONE aggregation job per iteration: the k×dim centroid sums AND the
        // inertia ride the same partial-aggregated groupBy (each row's
        // min-distance is summed once per dimension, i.e. dim× in total —
        // divided back out exactly below). Decimal sums are reduce-order-
        // invariant, so reruns and repartitions report identical numbers.
        val sums = assigned
          .select(col("__c"), col("__md"), posexplode(col("vec")).as(Seq("__p", "__v")))
          .groupBy(col("__c"), col("__p"))
          .agg(sum(col("__v").cast("decimal(28,12)")).as("__s"), count(lit(1)).as("__n"),
            sum(col("__md").cast("decimal(30,12)")).as("__i"))
          .collect()
        val dim = centroids.head.length
        inertia = inertia :+ sums
          .foldLeft(java.math.BigDecimal.ZERO)((acc, r) => acc.add(r.getDecimal(4)))
          .divide(java.math.BigDecimal.valueOf(dim.toLong))
        val next = centroids.map(_.clone())
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDecimal(2).doubleValue / r.getLong(3)
        }
        converged = next.zip(centroids).forall { case (a, b) => a.sameElements(b) }
        centroids = next
        it += 1
      }
      (assign(vecs, col("id"), col("vec"), centroids),
        KMeansModel(centroids, inertia, it))
    } finally vecs.unpersist(blocking = false)
  }
}
