package org.apache.spark.ml.clustering.graft

import org.apache.spark.ml.clustering.{KMeans, KMeansAggregator, KMeansModel}
import org.apache.spark.ml.feature.{Instance, InstanceBlock}
import org.apache.spark.ml.linalg.{BLAS, DenseMatrix, DenseVector, Vector, VectorUDT, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.DatasetUtils.{checkNonNanVectors, columnToVector}
import org.apache.spark.mllib.clustering.{KMeansModel => MLlibKMeansModel}
import org.apache.spark.mllib.clustering.graft.DriverKMeansBridge
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Spark 4.1.2's `ml.clustering.KMeans.fit` for euclidean distance and
  * k-means|| initialisation, run on the driver over the training vectors
  * collected once with their partitions. The size policy (when this runs
  * at all) lives in `graft.ml.KMeansFit`; this bridge only mirrors Spark.
  *
  * Both solvers are ported because `solver=auto` picks either: the row
  * solver (`mllib.clustering.KMeans.runWithWeight`) and the block solver
  * (`KMeansAggregator` over `InstanceBlock`s), followed step for step so
  * the centres are bit-identical to `est.fit`. `KMeansAggregator`, the
  * `KMeansModel` constructor and `createSummary` are package-private to
  * `org.apache.spark.ml.clustering`, hence this package.
  */
object DriverKMeans {

  /** Row count and vector width of a training frame. */
  final case class Shape(rows: Long, width: Int)

  /** Rows and width of `featuresCol` as `fit` reads it (vector or
    * float/double array, NaN check included), in one narrow job; None for
    * an empty frame or mixed widths, which `est.fit` must reject itself.
    */
  def shape(df: DataFrame, featuresCol: String): Option[Shape] = {
    val parts = df.select(checkNonNanVectors(columnToVector(df, featuresCol))).rdd
      .mapPartitions(rows => Iterator(rows.foldLeft((0L, Set.empty[Int])) {
        case ((n, widths), r) => (n + 1, widths + r.getAs[Vector](0).size)
      })).collect()
    val rows = parts.map(_._1).sum
    val widths = parts.flatMap(_._2).toSet
    if (rows == 0 || widths.size != 1) None else Some(Shape(rows, widths.head))
  }

  /** `KMeans.preferBlockSolver`. For a vector column Spark 4.1.2 compares
    * the sum of the active *indices* of Summarizer's `numNonZeros`
    * (`Tuple2._1` in its bytecode) with rows × width / 2; that vector is
    * always dense, so the sum is 0 + 1 + … + (width − 1) and the block
    * solver runs exactly when rows < width. The rule is copied as it is.
    */
  def prefersBlock(est: KMeans, df: DataFrame, s: Shape): Boolean =
    est.getSolver match {
      case "row"   => false
      case "block" => true
      case _ => df.schema(est.getFeaturesCol).dataType match {
        case _: VectorUDT =>
          BigDecimal(s.width.toLong * (s.width - 1) / 2) >= BigDecimal(s.rows) * s.width * 0.5
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
    }

  /** Fits `est` (euclidean, k-means||, no weight column) on the driver:
    * one job collects the features, nothing else runs a job. The model
    * carries the same params, parent and summary as `est.fit(df)`'s; the
    * summary's cluster sizes are computed when first read.
    */
  def fit(est: KMeans, df: DataFrame, s: Shape): KMeansModel = {
    val parts = df.select(checkNonNanVectors(columnToVector(df, est.getFeaturesCol)))
      .rdd.map(_.getAs[Vector](0)).glom().collect()
    val parent =
      if (prefersBlock(est, df, s)) blockLloyd(est, parts, DriverKMeansBridge
        .initialCenters(parts, est.getK, est.getInitSteps, est.getSeed, est.getDistanceMeasure))
      else DriverKMeansBridge.rowFit(parts, est.getK, est.getInitSteps, est.getSeed,
        est.getMaxIter, est.getTol, est.getDistanceMeasure)
    // fit's copyValues (protected) gives the model the estimator's set
    // params as set; the model's own defaults are the estimator's
    val explicit = ParamMap(est.extractParamMap().toSeq.filter(p => est.isSet(p.param)): _*)
    val model = new KMeansModel(est.uid, parent).copy(explicit).setParent(est)
    model.createSummary(model.transform(df), parent.numIter, parent.trainingCost)
    model
  }

  /** `KMeans.trainWithBlock` after its initialisation, updating `centers`
    * in place.
    */
  private def blockLloyd(est: KMeans, parts: Array[Array[Vector]],
                         centers: Array[Vector]): MLlibKMeansModel = {
    val blockMB = if (est.getMaxBlockSizeInMB == 0) InstanceBlock.DefaultBlockSizeInMB
      else est.getMaxBlockSizeInMB
    val maxMemUsage = (blockMB * 1024L * 1024L).ceil.toLong
    val blocks = parts.map(p => InstanceBlock.blokifyWithMaxMemUsage(
      p.iterator.map(f => Instance(BLAS.dot(f, f), 1.0, f)), maxMemUsage).toArray)
    val k = est.getK
    val numFeatures = centers.head.size
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < est.getMaxIter && !converged) {
      val centerMatrix = DenseMatrix.fromVectors(centers.toSeq)
      val merged = new Array[(Double, DenseVector)](k)
      var costSum = 0.0
      blocks.filter(_.nonEmpty).foreach { partBlocks =>
        val agg = new KMeansAggregator(centerMatrix, k, numFeatures, est.getDistanceMeasure)
        partBlocks.foreach(agg.add)
        costSum += agg.costSum
        agg.weightSumVec.iterator.zip(agg.sumMat.rowIter).foreach {
          case ((i, weight), vec) if weight > 0 =>
            merged(i) = merged(i) match {
              case null => (weight, vec.toDense)
              case (w, sum) =>
                BLAS.axpy(1.0, vec.toDense, sum)
                (w + weight, sum)
            }
          case _ => ()
        }
      }
      converged = true
      merged.indices.filter(merged(_) != null).foreach { i =>
        val (weightSum, sum) = merged(i)
        BLAS.scal(1.0 / weightSum, sum)
        if (converged && math.sqrt(Vectors.sqdist(centers(i), sum)) > est.getTol) {
          converged = false
        }
        centers(i) = sum
      }
      cost = costSum
      iteration += 1
    }
    new MLlibKMeansModel(centers.map(OldVectors.fromML), est.getDistanceMeasure, cost, iteration)
  }
}
