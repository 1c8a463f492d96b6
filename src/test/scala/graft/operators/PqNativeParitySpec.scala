package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-20 bit-parity pins for the native PQ kernels (graft_unit_vec,
  * graft_vec_sub_anchor, graft_pq_codes, graft_pq_luts): each must
  * reproduce the pre-round-20 HOF expression chain value-for-value over
  * the real corpus — the adcHof/graft_pq_adc pattern. The HOF chains are
  * CodegenFallback towers that re-evaluated the prepared vector once per
  * subspace (and the norm aggregate once per ELEMENT inside unitize), so
  * the natives exist purely for wall-clock; any value drift here would
  * silently move ANN pool contents, which is exactly what these pins make
  * impossible.
  */
class PqNativeParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.core.Tables.embeddings(spark, sf0001)
  private lazy val rawModel =
    ProductQuantizer.train(emb, "embedding", m = 16, nCodes = 16)

  test("native unit_vec is bit-identical to the HOF normalize, incl. zero vectors") {
    val zero = Seq((-1L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val df = emb.select($"vec_id", $"embedding").unionByName(zero)
    val diff = df.where(
      graft.expressions.GraftFunctions.unitVec($"embedding")
        =!= HofTwins.unitize($"embedding")).count()
    assert(diff == 0)
  }

  test("native raw-layout codes and LUTs are bit-identical to the HOF chains") {
    val codeDiff = emb.where(
      ProductQuantizer.encode($"embedding", rawModel)
        =!= HofTwins.encode($"embedding", rawModel)).count()
    assert(codeDiff == 0)
    val lutDiff = emb.where(
      ProductQuantizer.queryLut($"embedding", rawModel)
        =!= HofTwins.queryLut($"embedding", rawModel)).count()
    assert(lutDiff == 0)
  }

  test("native residual and OPQ codes/LUTs are bit-identical to the HOF chains") {
    for (rotate <- Seq(false, true)) {
      // a deterministic 8-cell assignment in unit space, as the composed
      // layouts produce it (the anchors are the per-cell unit-space means)
      val (assigned, anchors) = {
        val withCell = emb.select($"vec_id", $"embedding",
          (pmod(xxhash64($"vec_id"), lit(8))).cast("int").as("cell"))
        val anchorRows = withCell
          .select($"cell", graft.expressions.GraftFunctions.unitVec($"embedding").as("u"))
          .groupBy($"cell")
          .agg(array((0 until 64).map(i => avg(element_at($"u", i + 1))): _*).as("a"))
          .orderBy($"cell").as[(Int, Seq[Double])].collect()
        assert(anchorRows.map(_._1).toSeq == (0 until 8))
        // float-rounded like the persisted centroid table
        (withCell, anchorRows.map(_._2.toArray.map(_.toFloat.toDouble)))
      }
      val model = ProductQuantizer.trainResidual(assigned, "embedding", "cell",
        anchors, m = 16, nCodes = 16, rotate = rotate)
      val codeDiff = assigned.where(
        ProductQuantizer.encodeResidual($"embedding", $"cell", model, anchors)
          =!= HofTwins.encodeResidual(
            $"embedding", $"cell", model, anchors)).count()
      assert(codeDiff == 0, s"rotate=$rotate residual codes diverged")
      val lutDiff = assigned.where(
        ProductQuantizer.queryLutResidual($"embedding", $"cell", model, anchors)
          =!= HofTwins.queryLutResidual(
            $"embedding", $"cell", model, anchors)).count()
      assert(lutDiff == 0, s"rotate=$rotate residual LUTs diverged")
    }
  }
}
