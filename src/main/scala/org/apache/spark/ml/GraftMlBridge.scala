package org.apache.spark.ml

import org.apache.spark.sql.Column

/** Bridge into the `private[spark]` input check every ml estimator applies
  * to its feature vectors, for graft's k-means fits that call mllib
  * directly ([[graft.operators.ProductQuantizer.kMeansCenters]]).
  */
object GraftMlBridge {
  /** The vector column, failing the job on a null vector or a NaN or
    * infinite value, as `ml.clustering.KMeans.fit` fails it.
    */
  def checkNonNanVectors(c: Column): Column = util.DatasetUtils.checkNonNanVectors(c)
}
