package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Collaborative filtering + latent-factor clustering (reference T3,
  * E16-E18: als_clustering_analysis.py:38-125).
  *
  * ALS is the one reference workload that is genuinely shuffle-bound: each
  * half-iteration exchanges user/item factor blocks. Block counts follow the
  * session's shuffle parallelism; coldStartStrategy=drop keeps evaluation
  * NaN-free (ref als:73).
  */
object Recommender {

  def als(rank: Int = 10, maxIter: Int = 10, seed: Long = 40L,
          userCol: String = "user", itemCol: String = "item",
          ratingCol: String = "rating"): ALS =
    new ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(ratingCol)
      .setRank(rank).setMaxIter(maxIter).setSeed(seed)
      .setColdStartStrategy("drop")

  /** Time-ordered split → fit → rmse/mae/mse, per split fraction
    * (ref als:39-69, with the multiset-correct split of quirk Q1).
    */
  def temporalEval(ratings: DataFrame, tsCol: String, tiebreak: String,
                   fractions: Seq[Double], alsEst: ALS): Seq[(Double, Map[String, Double])] = {
    val total = ratings.count()
    fractions.map { f =>
      val (train, test) = Relational.temporalPrefixSplit(
        ratings, tsCol, tiebreak, math.ceil(total * f).toLong)
      val model = alsEst.fit(train)
      f -> Regressors.regressionMetrics(
        model.transform(test), alsEst.getRatingCol)
    }
  }

  /** K-Means over ALS user factors (ref als:110-125). userFactors carries
    * `features: array<float>`; Spark 4's KMeans needs a Vector — quirk Q6 —
    * hence array_to_vector.
    */
  def clusterUserFactors(model: ALSModel, k: Int, seed: Long = 40L): DataFrame = {
    val factors = model.userFactors
      .withColumn("fv", array_to_vector(col("features")))
    val km = new KMeans().setK(k).setSeed(seed).setFeaturesCol("fv")
    KMeansFit.fit(km, factors).transform(factors)
      .select(col("id"), col("prediction").as("cluster"))
  }

  /** Cluster embeddings directly (north-star: vector-column clustering). */
  def clusterEmbeddings(emb: DataFrame, k: Int, seed: Long = 40L,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val df = emb.withColumn("fv", array_to_vector(col(vecCol)))
    val km = new KMeans().setK(k).setSeed(seed).setFeaturesCol("fv")
    KMeansFit.fit(km, df).transform(df).select(col(idCol), col("prediction").as("cluster"))
  }

  /** The genre-chain analog (ref als:122-146): members of the largest
    * cluster → their ratings → per-item mean with HAVING → top items →
    * explode a delimited attribute of the joined dimension → top tokens.
    * All relational; one window, two joins, no collect.
    */
  def topAttributeTokens(clusters: DataFrame, ratings: DataFrame,
                         items: DataFrame, itemCol: String, attrCol: String,
                         sep: String, minRatings: Long, topItems: Int,
                         topTokens: Int): DataFrame = {
    val largest = clusters.groupBy("cluster").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("cluster")).limit(1)
    val members = clusters.join(broadcast(largest), "cluster")
      .select(col("id"))
    val rated = ratings.join(members, ratings("user") === members("id"))
    val top = rated.groupBy(itemCol)
      .agg(avg("rating").as("avg_rating"), count(lit(1)).as("n"))
      .filter(col("n") >= minRatings)
      .orderBy(desc("avg_rating"), col(itemCol)).limit(topItems)
    broadcast(top).join(items, itemCol)
      .select(explode(split(col(attrCol), sep)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token")).limit(topTokens)
  }
}
