package graft
package queries

import org.apache.spark.sql.functions._

/** The reference apps' ML rows (T1 Higgs RF/GBT, T2 claims GLMs, T3
  * ALS + KMeans): q29-q35 and q153.
  */
object MlQueries {

  lazy val all: Seq[QueryDef] = Seq(
    // ==== ML layer (SURVEY §2.10; rows-only checks — no SQL oracle) =====

    // E1+E5+E6+E12: RF pipeline + DataFrame-native confusion matrix.
    QueryDef("q29_ml_rf_confusion", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("label",
          when(col("l_returnflag") === "N", 1.0).otherwise(0.0))
      val Array(train, test) = li.randomSplit(Array(0.7, 0.3), seed = 40)
      // strip the training summary before serving: its SparkSession
      // reference otherwise rides the prediction UDF's task closure
      // (SummaryBridge scaladoc — "Task not serializable" once any
      // Dataset.observe has touched the session)
      val model = org.apache.spark.ml.graft.SummaryBridge
        .stripTrainingSummaries(ml.Classifiers.randomForest(
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_linenumber"), "label", numTrees = 20).fit(train))
      ml.Classifiers.confusionMatrix(model.transform(test), "label")
    }),

    // E2-E5+E9: claims-style encode pipeline + Poisson GLM; coefficients out.
    QueryDef("q30_ml_glr_poisson", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      // tiny ridge: regParam=0 triggers Spark's Cholesky→Quasi-Newton
      // retry on near-singular covariance (benign but noisy, and the
      // unregularized solve is numerically fragile at scale)
      val model = ml.Regressors.poissonGlm(
        Seq("l_returnflag", "l_linestatus"),
        Seq("l_discount", "l_tax", "l_extendedprice"),
        "l_quantity", regParam = 0.001, maxIter = 25).fit(li)
      val glm = model.stages.last
        .asInstanceOf[org.apache.spark.ml.regression.GeneralizedLinearRegressionModel]
      val rows = glm.coefficients.toArray.zipWithIndex.map {
        case (c, i) => (i.toLong, BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      import s.implicits._
      rows.toSeq.toDF("coef_idx", "coef").orderBy("coef_idx")
    }),

    // E11+E13+E14: logistic regression + metric suite (incl. both AUCs).
    QueryDef("q31_ml_logistic_metrics", (s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("label",
          when(col("o_orderstatus") === "F", 1.0).otherwise(0.0))
      val Array(train, test) = o.randomSplit(Array(0.7, 0.3), seed = 40)
      // same summary strip as q29 (LogisticRegressionModel.copy would
      // RE-ATTACH the summary — the bridge is the reliable path)
      val model = org.apache.spark.ml.graft.SummaryBridge
        .stripTrainingSummaries(ml.Regressors.logistic(
          Seq("o_orderpriority"), Seq("o_totalprice"), "label",
          elasticNet = 0.0, maxIter = 25).fit(train))
      val metrics = ml.Classifiers.classificationMetrics(
        model.transform(test), "label", binary = true)
      import s.implicits._
      metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => (k, math.rint(v * 100) / 100) }
        .toDF("metric", "value")
    }),

    // E16: ALS on (customer, part, quantity) implicit ratings; top-3 recs.
    QueryDef("q32_ml_als_recs", (s, dir) => {
      val ratings = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").cast("int").as("user"),
          col("l_partkey").cast("int").as("item"))
        .agg(avg("l_quantity").as("rating"))
      val model = ml.Recommender.als(rank = 8, maxIter = 5).fit(ratings)
      model.recommendForAllUsers(3)
        .select(col("user"), posexplode(col("recommendations")))
        .select(col("user").cast("long").as("user"),
          (col("pos") + 1).cast("long").as("rank"),
          col("col.item").cast("long").as("item"))
        .orderBy("user", "rank")
    },
      // Spark ML recommendForAllItems' internal blocked cross — MLlib's
      // own plan, not ours
      accepted = Set("CartesianProduct")),

    // E18 (+Q6 array_to_vector): K-Means over the embeddings table.
    QueryDef("q33_ml_kmeans_embed", (s, dir) =>
      ml.Recommender.clusterEmbeddings(Tables.embeddings(s, dir), k = 8)
        .groupBy("cluster").agg(count(lit(1)).as("cnt"))
        .select(col("cluster").cast("long").as("cluster"), col("cnt"))
        .orderBy("cluster")),

    // E8: CrossValidator grid search (small grid on a sample) + E19 params.
    QueryDef("q34_ml_cv_best_params", (s, dir) => {
      val li = Tables.lineitem(s, dir).sample(0.2, seed = 40)
        .withColumn("label",
          when(col("l_returnflag") === "N", 1.0).otherwise(0.0))
      val cv = ml.Classifiers.rfCrossValidated(
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), "label",
        numTrees = Seq(5, 10), subsamplingRates = Seq(0.8, 1.0),
        featureSubsetStrategies = Seq("log2", "auto", "all"),
        numFolds = 2).fit(li)
      import s.implicits._
      ml.Classifiers.bestParams(cv).toSeq
        .filter { case (k, _) =>
          Set("numTrees", "subsamplingRate", "featureSubsetStrategy")(k) }
        .map { case (k, v) => (k, v.toString) }
        .sortBy(_._1).toDF("param", "value")
    }, bench = false),

    // E8's GBT half (higgs_ensemble_analysis.py:119-129 runs the SAME
    // 3-dim CV grid for GBT as for RF): maxIter x maxDepth x
    // subsamplingRate over the q34 sample, seeded, best point reported.
    // `no_oracle` at the driver (rows-only) — GoldenSpec pins the exact
    // winning parameters, closing the one §2 component (round-13 verdict
    // missing #1) whose operator existed but had no query-contract gate.
    QueryDef("q153_ml_gbt_cv_best_params", (s, dir) => {
      val li = Tables.lineitem(s, dir).sample(0.2, seed = 40)
        .withColumn("label",
          when(col("l_returnflag") === "N", 1.0).otherwise(0.0))
      val cv = ml.Classifiers.gbtCrossValidated(
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), "label",
        maxIters = Seq(2, 4), maxDepths = Seq(2, 3),
        subsamplingRates = Seq(0.8, 1.0), numFolds = 2).fit(li)
      import s.implicits._
      ml.Classifiers.bestParams(cv).toSeq
        .filter { case (k, _) =>
          Set("maxIter", "maxDepth", "subsamplingRate")(k) }
        .map { case (k, v) => (k, v.toString) }
        .sortBy(_._1).toDF("param", "value")
    }, bench = false),

    // E16-E18 chained: ALS factors → K-Means → largest-cluster attribute
    // tokens (the als:110-146 genre chain, fully relational).
    QueryDef("q35_ml_cluster_tokens", (s, dir) => {
      val ratings = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").cast("int").as("user"),
          col("l_partkey").cast("int").as("item"))
        .agg(avg("l_quantity").as("rating"))
      val model = ml.Recommender.als(rank = 8, maxIter = 5).fit(ratings)
      val clusters = ml.Recommender.clusterUserFactors(model, k = 5)
      ml.Recommender.topAttributeTokens(clusters, ratings,
        Tables.part(s, dir).withColumnRenamed("p_partkey", "item"),
        "item", "p_name", " ", minRatings = 2, topItems = 10, topTokens = 10)
    }, bench = false),
  )
}
