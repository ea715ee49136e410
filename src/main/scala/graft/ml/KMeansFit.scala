package graft.ml

import scala.util.Try

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.clustering.graft.DriverKMeans
import org.apache.spark.mllib.clustering.{KMeans => MLlibKMeans}
import org.apache.spark.sql.DataFrame

/** The engine's one KMeans fit entry. A driver-sized fit runs Spark's own
  * `KMeans.fit` algorithm on the driver over the training vectors,
  * collected once with their partitions ([[DriverKMeans]]): two jobs (a
  * size probe and the collect) instead of the ~25 one-task jobs of
  * `est.fit`, with bit-identical centres, predictions, iteration count
  * and cluster sizes (`KMeansFitSpec`). Anything else is `est.fit(df)`.
  *
  * Driver-sized means `rows × width × k ≤` [[DriverCells]]. The driver
  * fit is single-threaded, so its lead over `est.fit` shrinks with size:
  * on 4 cores at k = 16 it still won at 100k × 64 and 20k × 384 (README,
  * "KMeans fits"), 12× or more above the bound.
  */
object KMeansFit {

  /** Upper bound on rows × width × k for a driver fit (2^23). */
  val DriverCells: Long = 1L << 23

  def fitsDriver(rows: Long, width: Int, k: Int): Boolean =
    rows > 0 && BigInt(rows) * width * k <= DriverCells

  /** The size probe: row count and width of `featuresCol` in one job, or
    * None when there is none to take (a NaN feature, an empty frame), in
    * which case `est.fit` runs and raises Spark's own error.
    */
  def probe(df: DataFrame, featuresCol: String): Option[DriverKMeans.Shape] =
    Try(DriverKMeans.shape(df, featuresCol)).toOption.flatten

  /** The configuration the driver fit ports: euclidean distance,
    * k-means|| initialisation, no weight column.
    */
  def ported(est: KMeans): Boolean =
    est.getDistanceMeasure == "euclidean" &&
      est.getInitMode == MLlibKMeans.K_MEANS_PARALLEL &&
      !est.isSet(est.weightCol)

  def fit(est: KMeans, df: DataFrame): KMeansModel = fit(est, df, None)

  /** [[fit]] with the probe already run over the same rows (the IVF
    * training set folds it into its size check).
    */
  private[graft] def fit(est: KMeans, df: DataFrame,
                         shape: Option[DriverKMeans.Shape]): KMeansModel = {
    est.transformSchema(df.schema)
    val onDriver = if (!ported(est)) None
      else shape.orElse(probe(df, est.getFeaturesCol))
        .filter(s => fitsDriver(s.rows, s.width, est.getK))
    onDriver match {
      case Some(s) => DriverKMeans.fit(est, df, s)
      case None    => est.fit(df)
    }
  }
}
