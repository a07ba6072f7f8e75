package graft

import java.nio.file.Files

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, Node}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.ml.AnomalyForest

/** Batch-layer tests mirroring the reference's AnalyzerSpec.scala:41-98:
  * RF posterior tolerances for samples (10, 200, −100) → (0.1±0.1,
  * 0.9±0.1, 0.5±0.5), persistence round-trip, and the single-class
  * training guard (Trainer.scala:43-49). The forests are MLlib models
  * grown from histograms rather than Smile's, so the reference's own
  * tolerance bands are the contract, with a fixed seed for internal
  * reproducibility. Against MLlib itself the contract is exact: one
  * unbootstrapped tree equals `RandomForestClassifier`'s on the same
  * rows. */
class ForestSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val models = AnomalyForest.train(fixture)

  test("trains one model per sensor with two-class data") {
    val expected = fixture.filter($"anomaly" === 1)
      .select($"sensor").distinct().as[String].collect().toSet
    models.keySet shouldBe expected
    models.keySet should contain(FirstSensor)
  }

  test("golden posteriors (AnalyzerSpec.scala:41-55 tolerances)") {
    val m = models(FirstSensor)
    val samples = Seq(10.0, 200.0, -100.0).toDF("value")
    val p = AnomalyForest.posterior(m, samples)
      .select($"value", $"p_anomaly").as[(Double, Double)].collect().toMap
    p(10.0) shouldBe 0.1 +- 0.1
    p(200.0) shouldBe 0.9 +- 0.1
    p(-100.0) shouldBe 0.5 +- 0.5
  }

  test("single-class data yields no model (Trainer.scala:43-49 Try semantics)") {
    val singleClass = fixture.filter($"sensor" === FirstSensor && $"anomaly" === 0)
    AnomalyForest.train(singleClass) shouldBe empty
  }

  test("save/load round-trip preserves predictions (M4)") {
    val dir = Files.createTempDirectory("graft-models").toString
    AnomalyForest.saveAll(models, dir)
    val reloaded = AnomalyForest.load(dir, models.keys.toSeq)
    reloaded.keySet shouldBe models.keySet
    val samples = Seq(10.0, 200.0, -100.0, 130.0).toDF("value")
    val before = AnomalyForest.posterior(models(FirstSensor), samples)
      .select($"p_anomaly").as[Double].collect().toSeq
    val after = AnomalyForest.posterior(reloaded(FirstSensor), samples)
      .select($"p_anomaly").as[Double].collect().toSeq
    after shouldBe before
  }

  test("scoreLatest feeds the blend join with one score per modeled sensor") {
    val latest = fixture.sparkSession.createDataFrame(
      models.keys.toSeq.map(s => (s, 130.0))).toDF("sensor", "value")
    val scored = AnomalyForest.scoreLatest(models, latest)
    scored.count() shouldBe models.size
    scored.select(min($"full_score"), max($"full_score")).as[(Double, Double)].head() match {
      case (lo, hi) => lo should be >= 0.0; hi should be <= 1.0
    }
  }

  /** Every split threshold of a forest, tree by tree, in preorder. */
  private def thresholds(m: RandomForestClassificationModel): Seq[Seq[Double]] = {
    def walk(n: Node): Seq[Double] = n match {
      case i: InternalNode =>
        i.split.asInstanceOf[ContinuousSplit].threshold +: (walk(i.leftChild) ++ walk(i.rightChild))
      case _ => Nil
    }
    m.trees.toSeq.map(t => walk(t.rootNode))
  }

  /** Values on both sides of every threshold, plus a grid over the range. */
  private def probes(ms: Iterable[RandomForestClassificationModel]): Seq[Double] =
    (ms.flatMap(thresholds(_).flatten).flatMap(t => Seq(t, math.nextUp(t), math.nextDown(t))) ++
      (-400 to 400).map(_ * 0.5)).toSeq.distinct.sorted

  /** P(anomaly) of each value, read from the model on the driver. */
  private def posteriors(m: RandomForestClassificationModel, vs: Seq[Double]): Seq[Double] =
    vs.map(v => m.predictProbability(Vectors.dense(v))(1))

  test("one unbootstrapped tree equals MLlib's: thresholds and posteriors") {
    val seed = 7L
    val assembler = new VectorAssembler().setInputCols(Array("value")).setOutputCol("features")
    // the fixture's values are whole numbers, fewer than the bins, so every
    // midpoint is a threshold; a generated history of 2 000 real values
    // takes MLlib's quantile thresholds instead
    val generated = spark.createDataFrame(spark.sparkContext.parallelize(
      ForestAccuracySpec.episodes(seed, Seq(FirstSensor), 2000), 3), fixture.schema)
    Seq("fixture" -> fixture.filter($"sensor" === FirstSensor), "generated" -> generated).foreach {
      case (name, rows) =>
        val ours = AnomalyForest.fit(rows, 20000, seed, numTrees = 1, bootstrap = false)(FirstSensor)
        val mllib = new RandomForestClassifier().setLabelCol("anomaly")
          .setNumTrees(1).setBootstrap(false).setMaxBins(512).setSeed(seed)
          .fit(assembler.transform(rows.withColumn("anomaly", $"anomaly".cast("double"))))
        withClue(s"$name: ") {
          thresholds(ours) shouldBe thresholds(mllib)
          thresholds(ours).head should not be empty
          val vs = probes(Seq(ours, mllib))
          posteriors(ours, vs) shouldBe posteriors(mllib, vs)
        }
    }
  }

  test("the same history on another partitioning gives the same forests") {
    val again = AnomalyForest.train(fixture.repartition(7))
    again.keySet shouldBe models.keySet
    val vs = probes(models.values)
    models.foreach { case (s, m) =>
      withClue(s)(posteriors(again(s), vs) shouldBe posteriors(m, vs))
    }
  }

  test("a single-class sensor gets no model while two-class sensors beside it do") {
    val mixed = fixture.filter(!($"sensor" === FirstSensor && $"anomaly" === 1))
    AnomalyForest.train(mixed).keySet shouldBe models.keySet - FirstSensor
  }

  test("scoreLatest equals posterior exactly for every sensor") {
    val vs = probes(models.values)
    val latest = models.keys.toSeq.flatMap(s => vs.map(v => (s, v))).toDF("sensor", "value")
    val scored = AnomalyForest.scoreLatest(models, latest)
      .select($"sensor", $"full_score").as[(String, Double)].collect()
    scored.length shouldBe latest.count()
    scored.groupBy(_._1).foreach { case (s, got) =>
      val want = AnomalyForest.posterior(models(s), vs.toDF("value")).orderBy($"value")
        .select($"p_anomaly").as[Double].collect().toSeq
      // scoreLatest keeps the input order within a sensor: one plan, no shuffle
      withClue(s)(got.map(_._2).toSeq shouldBe want)
    }
  }

  test("a 4-sensor refit runs at most 2 Spark jobs") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("forest-refit", "refit")
      val refit = try AnomalyForest.train(fixture) finally sc.clearJobGroup()
      refit.size shouldBe 4
      // listener events arrive in order: once a later job's start is
      // seen, every refit job's start has been too
      sc.setJobGroup("forest-marker", "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("forest-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      groups should contain("forest-marker")
      val jobs = groups.toArray.count(_ == "forest-refit")
      jobs should (be >= 1 and be <= 2)
    } finally sc.removeSparkListener(listener)
  }
}
