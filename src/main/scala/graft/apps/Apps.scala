package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.etl.LogParser
import graft.ml.{Classifiers, Recommender, Regressors, Timing}
import graft.sources.Sources

/** Four runnable applications mirroring the reference's T1-T4 end-to-end
  * analyses, re-expressed on this engine. Each takes [inputDir [outputDir]]
  * (defaults: the sf0.001 fixtures, target/app_output) — all paths/masters
  * are config, never hardcoded (reference quirk Q9).
  *
  * Reports are written with the driver-side text sink (small aggregates
  * only); anything potentially large stays a DataFrame.
  */
object AppSession {
  def create(name: String): SparkSession = {
    val master = sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _)
    GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      Seq("spark.app.name" -> name) ++ master: _*)
  }

  def fmt(m: Map[String, Double]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (k, v) => f"$k = $v%.6f" }
}

/** T1 analog (higgs_ensemble_analysis.py): CV grid over an ensemble
  * classifier on a sample, final fit on the full input, metrics +
  * confusion + importances report.
  */
object EnsembleApp {
  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("target/app_output/ensemble")
    val spark = AppSession.create("graft-ensemble")
    val features =
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber")
    val data = Tables.lineitem(spark, in)
      .withColumn("label", when(col("l_returnflag") === "N", 1.0).otherwise(0.0))
      .cache()
    // CV on a subsample (ref: 1% CV sample, higgs:69), all three grid
    // dimensions per arm like higgs:77-87 / 119-129
    val sample = data.sample(0.5, seed = 40)
    val (cvModel, cvSecs) = Timing.timed(Classifiers.rfCrossValidated(
      features, "label", numTrees = Seq(10, 20),
      subsamplingRates = Seq(0.75, 1.0),
      featureSubsetStrategies = Seq("log2", "auto", "all")).fit(sample))
    val best = Classifiers.bestParams(cvModel)
    // GBT grid, the second ensemble arm (higgs:119-129)
    val (gbtCv, gbtCvSecs) = Timing.timed(Classifiers.gbtCrossValidated(
      features, "label", maxIters = Seq(5, 8),
      maxDepths = Seq(3, 5), subsamplingRates = Seq(0.6, 0.8, 1.0),
      numFolds = 2).fit(sample))
    val gbtBest = Classifiers.bestParams(gbtCv)
    val Array(train, test) = data.randomSplit(Array(0.7, 0.3), seed = 40)
    // final full-data fits for BOTH arms, carrying the COMPLETE winning
    // param set from each grid (higgs:156-177: RF numTrees +
    // featureSubsetStrategy + subsamplingRate, GBT maxIter + maxDepth +
    // subsamplingRate)
    val (model, fitSecs) = Timing.timed(Classifiers.randomForest(
      features, "label",
      numTrees = best("numTrees").asInstanceOf[Int],
      subsamplingRate = best("subsamplingRate").asInstanceOf[Double],
      featureSubsetStrategy =
        best("featureSubsetStrategy").asInstanceOf[String]).fit(train))
    val (gbtModel, gbtFitSecs) = Timing.timed(Classifiers.gbt(
      features, "label",
      maxIter = gbtBest("maxIter").asInstanceOf[Int],
      maxDepth = gbtBest("maxDepth").asInstanceOf[Int],
      subsamplingRate = gbtBest("subsamplingRate").asInstanceOf[Double])
      .fit(train))
    val preds = model.transform(test).cache()
    val gbtPreds = gbtModel.transform(test)
    val metrics = Classifiers.classificationMetrics(preds, "label", binary = true)
    val gbtMetrics = Classifiers.classificationMetrics(gbtPreds, "label",
      binary = true).map { case (k, v) => s"gbt_$k" -> v }
    val confusion = Classifiers.confusionMatrix(preds, "label").collect()
      .map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}")
    // E12 parity: per-class precision/recall/fMeasure (higgs:23-40)
    val perClass = Classifiers.perClassMetrics(preds, "label").collect()
      .map(r => f"${r.get(0)},${r.getDouble(1)}%.6f,${r.getDouble(2)}%.6f,${r.getDouble(3)}%.6f")
    // E19 parity: featureImportances for both ensemble arms (higgs:47,55)
    val rfImp = Classifiers.featureImportances(model, features)
      .map { case (f, v) => f"rf,$f,$v%.6f" }
    val gbtImp = Classifiers.featureImportances(gbtModel, features)
      .map { case (f, v) => f"gbt,$f,$v%.6f" }
    Sources.writeTextReport(s"$out/metrics.txt",
      AppSession.fmt(metrics ++ gbtMetrics) ++
        Seq(f"cv_fit_seconds = $cvSecs%.2f",
          f"gbt_cv_fit_seconds = $gbtCvSecs%.2f",
          f"final_fit_seconds = $fitSecs%.2f",
          f"gbt_final_fit_seconds = $gbtFitSecs%.2f") ++
        (best.map { case (k, v) => s"best_rf_$k" -> v } ++
          gbtBest.filter { case (k, _) =>
            Set("maxIter", "maxDepth", "subsamplingRate")(k) }
            .map { case (k, v) => s"best_gbt_$k" -> v })
          .toSeq.sortBy(_._1).map { case (k, v) => s"$k = $v" })
    Sources.writeTextReport(s"$out/confusion_matrix.csv",
      "label,prediction,count" +: confusion.toSeq)
    Sources.writeTextReport(s"$out/per_class_metrics.csv",
      "class,precision,recall,f_measure" +: perClass.toSeq)
    Sources.writeTextReport(s"$out/feature_importances.csv",
      "model,feature,importance" +: (rfImp ++ gbtImp))
    println(s"[ensemble] accuracy=${metrics("accuracy")} auc=${metrics("areaUnderROC")} -> $out")
    spark.stop()
  }
}

/** T2 analog (Claims_Prediction.py): encoded feature pipeline, Poisson /
  * linear / logistic fits, regParam validation curves.
  */
object ClaimsApp {
  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("target/app_output/claims")
    val spark = AppSession.create("graft-claims")
    val cats = Seq("l_returnflag", "l_linestatus")
    val nums = Seq("l_discount", "l_tax", "l_extendedprice")
    val data = Tables.lineitem(spark, in)
      .withColumn("nz", when(col("l_quantity") > 25, 1.0).otherwise(0.0))
      .withColumn("logq", log(col("l_quantity") + 0.5))
      .cache()
    val (train, test) = graft.operators.Relational.stratifiedSplit(
      data, "l_returnflag", 0.7, 14, Seq("l_orderkey", "l_linenumber"))
    val fits = Map(
      "poisson_rmse" -> Regressors.poissonGlm(cats, nums, "l_quantity", maxIter = 20),
      "linear_l1_rmse" -> Regressors.linear(cats, nums, "logq", 1.0, maxIter = 20),
      "linear_l2_rmse" -> Regressors.linear(cats, nums, "logq", 0.0, maxIter = 20))
      .map { case (name, pipe) =>
        val m = pipe.fit(train)
        val label = if (name.startsWith("poisson")) "l_quantity" else "logq"
        name -> Regressors.regressionMetrics(m.transform(test), label)("rmse")
      }
    val logAcc = {
      val m = Regressors.logistic(cats, nums, "nz", 0.0, maxIter = 20).fit(train)
      Classifiers.classificationMetrics(m.transform(test), "nz", binary = true)
    }
    // regParam validation curves for ALL FIVE model families at the
    // reference's five points (Claims_Prediction.py:141-152: Poisson GLM +
    // linear L1/L2 on RMSE, logistic L1/L2 on accuracy) — one CSV each
    val regParams = Seq(0.001, 0.01, 0.1, 1.0, 10.0)
    val families: Seq[(String, Double => org.apache.spark.ml.Pipeline, String, String)] = Seq(
      ("poisson", rp => Regressors.poissonGlm(cats, nums, "l_quantity", rp, maxIter = 20),
        "l_quantity", "rmse"),
      ("linear_l1", rp => Regressors.linear(cats, nums, "logq", 1.0, rp, maxIter = 20),
        "logq", "rmse"),
      ("linear_l2", rp => Regressors.linear(cats, nums, "logq", 0.0, rp, maxIter = 20),
        "logq", "rmse"),
      ("logistic_l1", rp => Regressors.logistic(cats, nums, "nz", 1.0, rp, maxIter = 20),
        "nz", "accuracy"),
      ("logistic_l2", rp => Regressors.logistic(cats, nums, "nz", 0.0, rp, maxIter = 20),
        "nz", "accuracy"))
    families.foreach { case (name, pipeFor, label, metric) =>
      val curve = Regressors.validationCurveMetric(pipeFor, train, test,
        label, metric, regParams)
      Sources.writeTextReport(s"$out/validation_curve_$name.csv",
        s"regParam,$metric" +: curve.map { case (rp, v) => f"$rp,$v%.6f" })
    }
    Sources.writeTextReport(s"$out/metrics.txt",
      AppSession.fmt(fits ++ Map(
        "logistic_accuracy" -> logAcc("accuracy"),
        "logistic_auc" -> logAcc("areaUnderROC"))))
    println(s"[claims] ${fits.mkString(", ")} -> $out")
    spark.stop()
  }
}

/** T3 analog (als_clustering_analysis.py): ALS at multiple temporal splits,
  * K-Means over user factors, largest-cluster top attribute tokens.
  */
object RecommendApp {
  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("target/app_output/recommend")
    val spark = AppSession.create("graft-recommend")
    val ratings = Tables.lineitem(spark, in)
      .join(Tables.orders(spark, in), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"),
        col("l_quantity").as("rating"),
        col("o_orderdate").cast("timestamp_ltz").cast("long").as("ts"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"))
      .cache()
    // two ALS configs at every temporal split, like the reference's
    // default-vs-custom comparison (als_clustering_analysis.py:73-79:
    // ALS() defaults rank 10 / maxIter 10 vs rank 14 / maxIter 17)
    val configs = Seq(
      "default" -> Recommender.als(),
      "custom" -> Recommender.als(rank = 14, maxIter = 17))
    val evals = configs.flatMap { case (cname, est) =>
      Recommender.temporalEval(ratings, "ts", "rid", Seq(0.4, 0.6, 0.8), est)
        .map { case (f, m) => (f, cname, m) }
    }
    val model = Recommender.als(rank = 8, maxIter = 8).fit(ratings)
    val clusters = Recommender.clusterUserFactors(model, k = 8)
    val sizes = clusters.groupBy("cluster").count()
      .orderBy("cluster").collect()
      .map(r => s"${r.get(0)},${r.get(1)}")
    val tokens = Recommender.topAttributeTokens(clusters, ratings,
      Tables.part(spark, in).withColumnRenamed("p_partkey", "item"),
      "item", "p_name", " ", minRatings = 2, topItems = 10, topTokens = 10)
      .collect().map(r => s"${r.get(0)},${r.get(1)}")
    Sources.writeTextReport(s"$out/als_metrics.txt",
      evals.flatMap { case (f, cname, m) =>
        AppSession.fmt(m.map { case (k, v) =>
          s"split_${f}_${cname}_$k" -> v }) })
    Sources.writeTextReport(s"$out/cluster_sizes.csv",
      "cluster,size" +: sizes.toSeq)
    Sources.writeTextReport(s"$out/top_tokens.csv",
      "token,count" +: tokens.toSeq)
    println(s"[recommend] ${evals.map { case (f, c, m) => f"$f/$c:rmse=${m("rmse")}%.3f" }.mkString(" ")} -> $out")
    spark.stop()
  }
}

/** T4 analog (log_mining_analysis.py): parse CLF logs, per-country host
  * stats, day×hour heatmap, rest-share — all emitted as tables/CSV.
  * Input: a text/gz log file, or synthesized demo lines when absent.
  */
object LogApp {
  def main(args: Array[String]): Unit = {
    val out = args.lift(1).getOrElse("target/app_output/logmining")
    val spark = AppSession.create("graft-logmining")
    import spark.implicits._
    val raw: DataFrame = args.headOption match {
      case Some(path) => Sources.text(spark, path)
      case None => // deterministic demo corpus
        val hosts = Seq("alpha.web.de", "beta.web.de", "gamma.uni.ca",
          "delta.org.sg", "epsilon.web.de", "zeta.uni.ca")
        (0 until 5000).map { i =>
          val h = hosts(i % hosts.size)
          val day = 1 + (i % 28)
          val hour = i % 24
          f"$h - - [$day%02d/Jul/1995:$hour%02d:00:00 -0400] " +
            "\"GET /index.html HTTP/1.0\" 200 " + (1000 + i)
        }.toDF("value")
    }
    val parsed = LogParser.parseNasaLog(raw).cache()
    val top = LogParser.topHostsAllSuffixes(parsed, Seq(".de", ".ca", ".sg"), 9)
      .collect().map(r => s"${r.getAs[String]("country")},${r.getAs[String]("host")},${r.getAs[Long]("count")}")
    val heat = LogParser.dayHourHeatmap(parsed)
      .collect().map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}")
    val heatTop = LogParser.dayHourHeatmapTopHost(parsed)
      .collect().map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}")
    val rest = LogParser.restShare(parsed, 9).head()
    Sources.writeTextReport(s"$out/top_hosts.csv",
      "country,host,count" +: top.toSeq)
    Sources.writeTextReport(s"$out/day_hour_heatmap.csv",
      "day,hour,count" +: heat.toSeq)
    Sources.writeTextReport(s"$out/day_hour_heatmap_top_host.csv",
      "day,hour,count" +: heatTop.toSeq)
    Sources.writeTextReport(s"$out/summary.txt", Seq(
      s"total_requests = ${rest.getAs[Long]("total")}",
      s"top9_requests = ${rest.getAs[Long]("top_total")}",
      f"rest_share = ${rest.getAs[Double]("rest_share")}%.6f"))
    println(s"[logmining] total=${rest.getAs[Long]("total")} -> $out")
    spark.stop()
  }
}
