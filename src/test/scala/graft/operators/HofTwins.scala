package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-in-function (HOF) constructions that the native expressions
  * replaced, kept as bit-parity oracles: each parity spec asserts that a
  * native kernel reproduces its twin here value-for-value. HOFs are
  * CodegenFallback — interpreted per row — which is why the program runs
  * the natives and only the specs run these.
  */
object HofTwins {

  /** Squared-L2 distances to each centroid ([[Clustering]]'s native
    * `graft_l2sq_distances`).
    */
  def distances(vec: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.toSeq.map { c =>
      aggregate(
        zip_with(vec, typedLit(c.toSeq), (x, cv) => (x - cv) * (x - cv)),
        lit(0.0), (acc, d) => acc + d)
    }: _*)

  /** Character n-grams, defined for length(text) >= n
    * ([[TextAnalysis.charNgrams]]).
    */
  def charNgrams(text: Column, n: Int): Column =
    transform(sequence(lit(1), length(text) - (n - 1)), i => text.substr(i, lit(n)))

  /** Hyperplane component for (bit i, dim j): uniform in [-0.5, 0.5) from
    * xxhash64 — the rows [[Similarity.srpSignature]] projects onto.
    */
  private def hyperplane(i: Column, j: Column): Column =
    (pmod(xxhash64(i, j), lit(1000000L)).cast("double") / 1000000.0) - 0.5

  /** Sign-random-projection signature ([[Similarity.srpSignature]]). */
  def srpSignature(vec: Column, bits: Int, offset: Int = 0): Column =
    aggregate(
      transform(sequence(lit(offset), lit(offset + bits - 1)), i => {
        val d = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, j) => x.cast("double") * hyperplane(i, j)),
          lit(0.0), (acc, v) => acc + v)
        when(d > 0, call_function("shiftleft", lit(1L), i - offset)).otherwise(0L)
      }),
      lit(0.0).cast("long"), (acc, v) => acc.bitwiseOR(v))

  // ------------------------------------------------- ProductQuantizer twins

  /** Unit-normalize to doubles (`graft_unit_vec`); the norm aggregate sits
    * inside the per-element lambda, so it is recomputed per element.
    */
  def unitize(vec: Column): Column = {
    val n = sqrt(Similarity.norm2(vec))
    transform(vec, x => when(n > 0, x.cast("double") / n)
      .otherwise(x.cast("double")))
  }

  /** `unit(vec) − anchor(cell)` (`graft_vec_sub_anchor`). */
  def residualCol(vec: Column, cell: Column,
      anchors: Array[Array[Double]]): Column = {
    val anchorLit = array(anchors.toSeq.map(a => array(a.toSeq.map(lit): _*)): _*)
    zip_with(unitize(vec), element_at(anchorLit, cell.cast("int") + 1),
      (x, a) => x - a)
  }

  /** Per-subspace codes (`graft_pq_codes`): m slices of `prep`. */
  def encodePrepared(prep: Column, model: ProductQuantizer.PqModel): Column =
    array((0 until model.m).map { s =>
      val d = graft.expressions.GraftFunctions.l2sqDistances(
        slice(prep, s * model.subDim + 1, model.subDim), model.matrix(s))
      (array_position(d, array_min(d)) - 1).cast("int")
    }: _*)

  /** Per-subspace distance tables (`graft_pq_luts`). */
  def lutPrepared(prep: Column, model: ProductQuantizer.PqModel): Column =
    array((0 until model.m).map { s =>
      graft.expressions.GraftFunctions.l2sqDistances(
        slice(prep, s * model.subDim + 1, model.subDim), model.matrix(s))
    }: _*)

  private def residualPrep(vec: Column, cell: Column,
      model: ProductQuantizer.PqModel, anchors: Array[Array[Double]]): Column = {
    val r = residualCol(vec, cell, anchors)
    model.rotation.fold(r)(rot => graft.expressions.GraftFunctions.matVec(r, rot))
  }

  /** End-to-end twins of [[ProductQuantizer.encode]],
    * [[ProductQuantizer.encodeResidual]], [[ProductQuantizer.queryLut]] and
    * [[ProductQuantizer.queryLutResidual]].
    */
  def encode(vec: Column, model: ProductQuantizer.PqModel): Column =
    encodePrepared(unitize(vec), model)
  def encodeResidual(vec: Column, cell: Column, model: ProductQuantizer.PqModel,
      anchors: Array[Array[Double]]): Column =
    encodePrepared(residualPrep(vec, cell, model, anchors), model)
  def queryLut(vec: Column, model: ProductQuantizer.PqModel): Column =
    lutPrepared(unitize(vec), model)
  def queryLutResidual(vec: Column, cell: Column, model: ProductQuantizer.PqModel,
      anchors: Array[Array[Double]]): Column =
    lutPrepared(residualPrep(vec, cell, model, anchors), model)
}
