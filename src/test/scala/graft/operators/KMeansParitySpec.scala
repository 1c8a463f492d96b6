package graft.operators

import graft.SparkSpec
import graft.expressions.GraftFunctions
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The k-means fits the IVF-PQ builds made through `ml.clustering.KMeans`
  * before they called mllib directly ([[ProductQuantizer.kMeansCenters]]):
  * the same seeds and 10 iterations over the same frames.
  */
object MlKMeansOracle {
  def centers(train: DataFrame, k: Int, seed: Long): Array[Array[Double]] =
    new org.apache.spark.ml.clustering.KMeans().setK(k).setSeed(seed).setMaxIter(10)
      .fit(train).clusterCenters.map(_.toArray)

  /** The m subspace codebooks fitted over the prepared vectors `__u`. */
  def codebooks(unit: DataFrame, m: Int, nCodes: Int): Seq[Array[Array[Double]]] = {
    val subDim = unit.select(size(col("__u"))).head().getInt(0) / m
    (0 until m).map(s => centers(unit.select(
      array_to_vector(slice(col("__u"), s * subDim + 1, subDim)).as("features")),
      nCodes, 42L + s))
  }
}

/** The IVF-PQ builds' centroids and codebooks are bit-identical to the
  * ml k-means oracle's on the frames those builds fit.
  */
class KMeansParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.core.Tables.embeddings(spark, sf0001)
  private val nCells = 8
  private val m = 8
  private val nCodes = 16

  private def bits(cs: Seq[Seq[Double]]): Seq[Seq[Long]] =
    cs.map(_.map(java.lang.Double.doubleToRawLongBits))
  private def assertSame(got: Seq[Seq[Double]], want: Array[Array[Double]], what: String): Unit =
    assert(bits(got) == bits(want.toSeq.map(_.toSeq)), what)
  private def assertCodebooks(model: ProductQuantizer.PqModel, unit: DataFrame): Unit =
    MlKMeansOracle.codebooks(unit.localCheckpoint(), m, nCodes).zipWithIndex.foreach {
      case (want, s) => assertSame(model.codebooks(s), want, s"codebook $s")
    }

  /** The residual frame `trainResidual` fits, rotated by `rot` when given. */
  private def residuals(assigned: DataFrame, vec: String, cell: String,
      anchors: Array[Array[Double]], rot: Option[Vector[Vector[Double]]]): DataFrame = {
    val r: Column = GraftFunctions.vecSubAnchor(GraftFunctions.unitVec(col(vec)),
      col(cell).cast("int"), anchors)
    ProductQuantizer.sampleForFit(assigned, col(vec), 256L * nCodes)
      .select(rot.fold(r)(GraftFunctions.matVec(r, _)).as("__u"))
  }

  test("train and trainResidual codebooks equal the ml k-means oracle's") {
    val raw = ProductQuantizer.train(emb, "embedding", m = m, nCodes = nCodes)
    assertCodebooks(raw, ProductQuantizer.sampleForFit(emb, $"embedding", 256L * nCodes)
      .select(GraftFunctions.unitVec($"embedding").as("__u")))

    val assigned = emb.select($"vec_id", $"embedding",
      pmod(xxhash64($"vec_id"), lit(nCells)).cast("int").as("cell"))
    val anchors = assigned
      .select($"cell", GraftFunctions.unitVec($"embedding").as("u"))
      .groupBy($"cell").agg(array((0 until 64).map(i => avg(element_at($"u", i + 1))): _*))
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
      .map(_._2.toArray.map(_.toFloat.toDouble))
    val resid = ProductQuantizer.trainResidual(assigned, "embedding", "cell",
      anchors, m = m, nCodes = nCodes)
    assertCodebooks(resid, residuals(assigned, "embedding", "cell", anchors, None))
  }

  test("ivfPqBuildResidual and ivfPqBuildOpq centroids and codebooks equal the ml k-means oracle's") {
    val coarse = MlKMeansOracle.centers(
      ProductQuantizer.sampleForFit(emb.select($"vec_id", $"embedding"), $"vec_id",
        256L * nCells).select(array_to_vector(GraftFunctions.unitVec($"embedding"))
        .as("features")), nCells, 42L)
    val floatCenters = coarse.map(_.map(_.toFloat.toDouble))
    val d = GraftFunctions.l2sqDistances(GraftFunctions.unitVec($"embedding"), floatCenters)
    val assigned = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"), d.as("__d"))
      .select($"neighbor_id", $"cv",
        (array_position($"__d", array_min($"__d")) - 1).cast("int").as("cell"))
    for (opq <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("km_parity").toString
      val model =
        if (opq) ProductQuantizer.ivfPqBuildOpq(emb, "vec_id", "embedding",
          nCells, m, nCodes, dir)
        else ProductQuantizer.ivfPqBuildResidual(emb, "vec_id", "embedding",
          nCells, m, nCodes, dir)
      val persisted = spark.read.parquet(s"$dir/centroids").as[(Int, Seq[Float])]
        .collect().sortBy(_._1).map(_._2.map(_.toDouble))
      assertSame(persisted.toSeq, floatCenters, s"centroids (opq $opq)")
      assertCodebooks(model, residuals(assigned, "cv", "cell", floatCenters, model.rotation))
    }
  }

  test("a NaN vector is rejected as ml k-means rejects it") {
    val train = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(Double.NaN, 1.0), Seq(1.0, 1.0))
      .toDF("v").select(array_to_vector($"v").as("features"))
    def message(fit: => Any): String = intercept[Exception](fit).getMessage
    val got = message(ProductQuantizer.kMeansCenters(train, 2, 42L))
    assert(got.contains("MUST NOT be NaN"), got)
    assert(message(MlKMeansOracle.centers(train, 2, 42L)).contains("MUST NOT be NaN"))
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(Float.NaN, 1.0f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val viaBuild = message(Similarity.ivfBuild(corpus, "vec_id", "embedding", 2,
      java.nio.file.Files.createTempDirectory("km_nan").toString))
    assert(viaBuild.contains("MUST NOT be NaN"), viaBuild)
  }
}
