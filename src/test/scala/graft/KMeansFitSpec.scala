package graft

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.clustering.graft.DriverKMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ml.{KMeansFit, Recommender}

/** The driver fit ([[KMeansFit.fit]]) against `est.fit(df)` run in the
  * same test: bit-equal centres, equal predictions, iteration count and
  * cluster sizes, on every input shape the engine fits and on the
  * configurations that must fall back to `est.fit`.
  */
class KMeansFitSpec extends SparkSpec {
  private lazy val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

  private def embeddings(dir: String): DataFrame = Tables.embeddings(spark, dir)
    .withColumn("fv", array_to_vector(col("embedding")))

  private def km(k: Int, seed: Long, featuresCol: String = "fv"): KMeans =
    new KMeans().setK(k).setSeed(seed).setFeaturesCol(featuresCol)

  /** Spark's own solver choice, read from its private method. */
  private def sparkPrefersBlock(est: KMeans, df: DataFrame): Boolean = {
    val m = classOf[KMeans].getDeclaredMethod("preferBlockSolver", classOf[Dataset[_]])
    m.setAccessible(true)
    m.invoke(est, df).asInstanceOf[Boolean]
  }

  private def predictions(m: KMeansModel, df: DataFrame, idCol: String): Seq[(String, Int)] =
    m.transform(df).select(col(idCol).cast("string"), col("prediction")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted

  /** Fits both ways and compares; `onDriver` says which path the entry
    * must take (the driver fit runs a probe and a collect; a fallback runs
    * exactly `est.fit`'s jobs). Returns whether Spark took the block
    * solver.
    */
  private def assertSameFit(est: KMeans, df: DataFrame, idCol: String,
                            onDriver: Boolean = true): Boolean = {
    val (ref, refJobs) = jobsDuring(est.fit(df))
    val (got, jobs) = jobsDuring(KMeansFit.fit(est, df))
    if (onDriver) assert(jobs <= 2 * (1 + shuffles(df)), s"driver fit ran $jobs jobs")
    else assert(jobs == refJobs, s"expected est.fit's $refJobs jobs, got $jobs")
    assert(got.uid == ref.uid && got.parent == est)
    assert(got.clusterCenters.length == ref.clusterCenters.length)
    got.clusterCenters.zip(ref.clusterCenters).zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.util.Arrays.equals(a.toArray, b.toArray), s"centre $i differs")
    }
    assert(predictions(got, df, idCol) == predictions(ref, df, idCol))
    assert(got.summary.numIter == ref.summary.numIter)
    assert(got.summary.clusterSizes.toSeq == ref.summary.clusterSizes.toSeq)
    assert(math.abs(got.summary.trainingCost - ref.summary.trainingCost) <=
      1e-9 * math.max(1.0, ref.summary.trainingCost))
    assert(got.extractParamMap().toSeq.map(_.toString).sorted ==
      ref.extractParamMap().toSeq.map(_.toString).sorted)
    val block = sparkPrefersBlock(est, df)
    if (onDriver) {
      val shape = DriverKMeans.shape(df, est.getFeaturesCol).get
      assert(DriverKMeans.prefersBlock(est, df, shape) == block)
    }
    block
  }

  /** Shuffle map stages each read of `df` runs as a job of its own. */
  private def shuffles(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size

  test("embeddings at sf0.001 and sf0.01, k in {8, 16}, seeds {40, 7}") {
    for (dir <- Seq(sf0001, sf001); k <- Seq(8, 16); seed <- Seq(40L, 7L)) {
      withClue(s"$dir k=$k seed=$seed: ") {
        assert(!assertSameFit(km(k, seed), embeddings(dir), "vec_id"))
      }
    }
  }

  test("embeddings repartitioned to 3 and 4 partitions") {
    for (dir <- Seq(sf0001, sf001); parts <- Seq(3, 4)) {
      val df = embeddings(dir).repartition(parts)
      assert(df.rdd.getNumPartitions == parts)
      withClue(s"$dir parts=$parts: ") { assertSameFit(km(8, 40L), df, "vec_id") }
    }
  }

  test("ALS user factors over 10 partitions, k in {4, 5, 8}") {
    val ratings = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"), col("l_quantity").as("rating"))
    val model = Recommender.als(rank = 5, maxIter = 3).fit(ratings)
    val factors = model.userFactors.withColumn("fv", array_to_vector(col("features")))
    assert(factors.rdd.getNumPartitions == 10)
    for (k <- Seq(4, 5, 8)) withClue(s"k=$k: ") { assertSameFit(km(k, 40L), factors, "id") }
  }

  test("block solver: array<double> features, fewer rows than features, " +
      "solver=block") {
    val toDoubles = udf((a: Seq[Float]) => a.map(_.toDouble))
    val arr = embeddings(sf0001).withColumn("av", toDoubles(col("embedding")))
    assert(assertSameFit(km(8, 40L, "av"), arr, "vec_id"))
    assert(assertSameFit(km(8, 40L), embeddings(sf0001).filter(col("vec_id") < 40), "vec_id"))
    assert(assertSameFit(km(8, 7L).setSolver("block"), embeddings(sf001), "vec_id"))
  }

  test("sparse vectors with density under 0.5 take the row solver on the driver") {
    val rnd = new scala.util.Random(1)
    val rows = (0 until 300).map { i =>
      val idx = rnd.shuffle((0 until 50).toList).take(5).sorted.toArray
      Row(i.toLong, Vectors.sparse(50, idx, idx.map(_ => rnd.nextGaussian())))
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("fv", SQLDataTypes.VectorType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    assert(!assertSameFit(km(6, 40L), df, "id"))
  }

  test("cosine distance, random init and a weight column fall back to est.fit") {
    val df = embeddings(sf0001).withColumn("w", lit(1.0))
    val cases = Seq(km(8, 40L).setDistanceMeasure("cosine"),
      km(8, 40L).setInitMode("random"), km(8, 40L).setWeightCol("w"))
    cases.foreach { est =>
      assert(!KMeansFit.ported(est))
      assertSameFit(est, df, "vec_id", onDriver = false)
    }
  }

  test("a NaN feature and an empty frame fail with est.fit's exception class") {
    val emb = embeddings(sf0001)
    val nan = emb.withColumn("fv", array_to_vector(when(col("vec_id") === 3,
      transform(col("embedding"), _ => lit(Float.NaN))).otherwise(col("embedding"))))
    for (df <- Seq(nan, emb.filter(lit(false)))) {
      val est = km(8, 40L)
      val expected = intercept[Throwable](est.fit(df)).getClass
      assert(intercept[Throwable](KMeansFit.fit(est, df)).getClass == expected)
    }
  }
}
