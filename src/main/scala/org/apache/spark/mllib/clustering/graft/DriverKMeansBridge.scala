package org.apache.spark.mllib.clustering.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.{Vector => MLVector}
import org.apache.spark.mllib.clustering.{DistanceMeasure, KMeansModel, LocalKMeans, VectorWithNorm}
import org.apache.spark.mllib.linalg.{BLAS, Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** MLlib's k-means|| initialisation and row-solver Lloyd iterations over
  * training points already collected to the driver, one array per
  * partition of the frame `ml.clustering.KMeans.fit` would read.
  *
  * Each method follows its Spark 4.1.2 counterpart step for step
  * (`mllib.clustering.KMeans.initKMeansParallel`, `RDD.takeSample`,
  * `runAlgorithmWithWeight`): per-point and per-partition work calls the
  * same MLlib code in the same order, and what Spark folds across tasks
  * (cost sums, `reduceByKey` of cluster sums) is folded in partition
  * order, so the centres come out bit for bit. Lives under
  * `org.apache.spark.mllib` because `LocalKMeans` is `private[mllib]`
  * (the [[org.apache.spark.ml.graft.SummaryBridge]] pattern).
  */
object DriverKMeansBridge {

  private type Parts = Array[Array[VectorWithNorm]]

  /** The k-means|| centres `ml.clustering.KMeans.initialize` returns. */
  def initialCenters(parts: Array[Array[MLVector]], k: Int, steps: Int, seed: Long,
                     distanceMeasure: String): Array[MLVector] =
    initKMeansParallel(points(parts), k, steps, seed,
      DistanceMeasure.decodeFromString(distanceMeasure)).map(_.vector.asML)

  /** `ml.clustering.KMeans.trainWithRow`: k-means|| then the row solver. */
  def rowFit(parts: Array[Array[MLVector]], k: Int, steps: Int, seed: Long,
             maxIter: Int, tol: Double, distanceMeasure: String): KMeansModel = {
    val dm = DistanceMeasure.decodeFromString(distanceMeasure)
    val data = points(parts)
    val (centers, cost, iterations) = rowLloyd(data,
      initKMeansParallel(data, k, steps, seed, dm), maxIter, tol, dm)
    new KMeansModel(centers.map(_.vector), distanceMeasure, cost, iterations)
  }

  /** `runWithWeight`'s points: unit weight, norm from `Vectors.norm`. */
  private def points(parts: Array[Array[MLVector]]): Parts = parts.map(_.map { v =>
    val old = Vectors.fromML(v)
    new VectorWithNorm(old, Vectors.norm(old, 2.0), 1.0)
  })

  /** `initKMeansParallel`: first centre from `takeSample(false, 1, …)`,
    * `steps` rounds of cost-weighted candidate sampling, then k-means++
    * over the distinct candidates weighted by their closest-point counts.
    */
  private def initKMeansParallel(data: Parts, k: Int, steps: Int, seed: Long,
                                 dm: DistanceMeasure): Array[VectorWithNorm] = {
    val sampleSeed = new XORShiftRandom(seed).nextInt()
    val sample = takeSampleOfOne(data, sampleSeed)
    require(sample.nonEmpty, "No samples available from the training data")
    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(sample.head.toDense)
    centers ++= newCenters
    val costs = data.map(p => Array.fill(p.length)(Double.PositiveInfinity))
    var step = 0
    while (step < steps) {
      // costs.sum(): fold each partition from 0.0, then the partition
      // results from 0.0
      var sumCosts = 0.0
      data.indices.foreach { pi =>
        val (points, cost) = (data(pi), costs(pi))
        var partSum = 0.0
        points.indices.foreach { i =>
          cost(i) = math.min(dm.pointCost(newCenters, points(i)), cost(i))
          partSum += cost(i)
        }
        sumCosts += partSum
      }
      val chosen = data.indices.flatMap { pi =>
        val rand = new XORShiftRandom(sampleSeed ^ (step << 16) ^ pi)
        data(pi).indices.filter { i =>
          rand.nextDouble() < 2.0 * costs(pi)(i) * k / sumCosts
        }.map(data(pi)(_))
      }
      newCenters = chosen.map(_.toDense).toArray
      centers ++= newCenters
      step += 1
    }
    val distinctCenters = centers.map(_.vector).distinct
      .map(new VectorWithNorm(_)).toArray
    if (distinctCenters.length <= k) distinctCenters
    else {
      val counts = new Array[Long](distinctCenters.length)
      data.foreach(_.foreach(p => counts(dm.findClosest(distinctCenters, p)._1) += 1))
      LocalKMeans.kMeansPlusPlus(0, distinctCenters, counts.map(_.toDouble), k, 30)
    }
  }

  /** `RDD.takeSample(withReplacement = false, num = 1, seed)`. */
  private def takeSampleOfOne(data: Parts, seed: Long): Array[VectorWithNorm] = {
    val total = data.map(_.length.toLong).sum
    if (total == 0) Array.empty
    else {
      val rand = new java.util.Random(seed)
      if (total <= 1) Utils.randomizeInPlace(data.flatten, rand)
      else {
        val fraction = SamplingUtils.computeFractionForSampleSize(1, total,
          withReplacement = false)
        var samples = bernoulliSample(data, fraction, rand.nextInt())
        while (samples.isEmpty) samples = bernoulliSample(data, fraction, rand.nextInt())
        Utils.randomizeInPlace(samples, rand).take(1)
      }
    }
  }

  /** `RDD.sample(false, fraction, seed)`: one `BernoulliSampler` per
    * partition, seeded by that partition's draw from `Random(seed)`.
    */
  private def bernoulliSample(data: Parts, fraction: Double,
                              seed: Long): Array[VectorWithNorm] = {
    val partSeeds = new java.util.Random(seed)
    data.flatMap { points =>
      val sampler = new BernoulliSampler[VectorWithNorm](fraction)
      sampler.setSeed(partSeeds.nextLong())
      sampler.sample(points.iterator)
    }
  }

  /** The row solver's Lloyd loop (`runAlgorithmWithWeight` after its
    * initialisation), updating `centers` in place. Returns the centres,
    * the last iteration's cost and the number of iterations run.
    */
  private def rowLloyd(data: Parts, centers: Array[VectorWithNorm], maxIter: Int,
                       epsilon: Double,
                       dm: DistanceMeasure): (Array[VectorWithNorm], Double, Int) = {
    val k = centers.length
    val dims = centers.head.vector.size
    // computeStatisticsDistributedly computes the same per-pair values and
    // minimums as computeStatistics, so the local call stands for both
    val withStats = DistanceMeasure.shouldComputeStatistics(k)
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < maxIter && !converged) {
      val stats = if (withStats) Some(dm.computeStatistics(centers)) else None
      val merged = new Array[(Vector, Double)](k)
      var costSum = 0.0
      data.foreach { points =>
        val sums = Array.fill(k)(Vectors.zeros(dims))
        val clusterWeightSum = new Array[Double](k)
        var partCost = 0.0
        points.foreach { point =>
          val (best, c) = dm.findClosest(centers, stats, point)
          partCost += c * point.weight
          dm.updateClusterSum(point, sums(best))
          clusterWeightSum(best) += point.weight
        }
        costSum += partCost
        (0 until k).filter(clusterWeightSum(_) > 0).foreach { j =>
          merged(j) = merged(j) match {
            case null => (sums(j), clusterWeightSum(j))
            case (sum, weight) =>
              BLAS.axpy(1.0, sums(j), sum)
              (sum, weight + clusterWeightSum(j))
          }
        }
      }
      converged = true
      merged.indices.filter(merged(_) != null).foreach { j =>
        val (sum, weightSum) = merged(j)
        val newCenter = dm.centroid(sum, weightSum)
        if (converged && !dm.isCenterConverged(centers(j), newCenter, epsilon)) {
          converged = false
        }
        centers(j) = newCenter
      }
      cost = costSum
      iteration += 1
    }
    (centers, cost, iteration)
  }
}
