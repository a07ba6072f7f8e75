package graft.ml

import scala.util.Try

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, Node}
import org.apache.spark.ml.tree.graft.BinnedForest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Anomaly

/** The reference's batch layer (lambda-sample analyzer/Trainer.scala:
  * 38-74): per-sensor Random Forest classifiers `value → anomaly`,
  * refit over the full history window, served as posterior P(anomaly).
  *
  * Spark mapping: Smile `randomForest("anomaly" ~ "value")` becomes an
  * MLlib `RandomForestClassificationModel` over the one feature `value`
  * (20 trees, Gini, depth 5, 512 bins), kept in a small per-sensor Map
  * like the reference's Redis hash of serialized models. The forests are
  * not fit row by row: one grouped pass over the windowed history
  * reduces each sensor to its split thresholds and per-(tree, bin,
  * class) bootstrap counts, and the driver grows MLlib's trees from
  * those ([[BinnedForest]]). The driver thus holds at most
  * sensors × (511 + 20 × 512 × 2) numbers whatever the row count, and a
  * refit runs two Spark jobs whatever the sensor count: the window's
  * shuffle and the pass.
  *
  * Failure semantics match Trainer.scala:43-49: a sensor whose window
  * holds a single class has no model (heuristic-only fallback
  * downstream, Analyzer.scala:143-147).
  */
object AnomalyForest {

  private val assembler = new VectorAssembler()
    .setInputCols(Array("value")).setOutputCol("features")

  private val NumTrees = 20

  /** One sensor's window reduced to what the trees need: its split
    * thresholds, the weighted class counts per (tree, bin, class) laid
    * out as [[BinnedForest.forest]] reads them, and the unweighted
    * count of each class. Not `private`: Spark's generated code builds it. */
  private[ml] final case class Histogram(sensor: String, thresholds: Array[Double],
      counts: Array[Double], classes: Array[Long])

  /** Train one model per sensor over its most-recent `fullWindow` rows
    * (reference `cassandra.full` = 20000). Sensors whose window holds a
    * single class yield no model. */
  def train(
      entries: DataFrame,
      fullWindow: Int = 20000,
      seed: Long = 42L): Map[String, RandomForestClassificationModel] =
    fit(entries, fullWindow, seed, NumTrees, bootstrap = true)

  /** [[train]] with the tree count and the bootstrap open: with
    * `bootstrap = false` every row weighs 1 in every tree. */
  private[graft] def fit(entries: DataFrame, fullWindow: Int, seed: Long, numTrees: Int,
      bootstrap: Boolean): Map[String, RandomForestClassificationModel] = {
    import entries.sparkSession.implicits._
    // grouping on the window's own partition key adds no second shuffle
    Anomaly.recentWindow(entries, fullWindow)
      .select(col("sensor"), unix_micros(col("ts")), col("value"), col("anomaly").cast("int"))
      .groupBy(col("sensor")).as[String, (String, Long, Double, Int)]
      .mapGroups((s, rows) => histogram(s, rows.toArray, seed, numTrees, bootstrap))
      .collect()
      .filter(_.classes.forall(_ > 0)) // Trainer.scala:43-49
      .map(h => h.sensor -> BinnedForest.forest(h.thresholds, h.counts, numTrees))
      .toMap
  }

  private def histogram(sensor: String, rows: Array[(String, Long, Double, Int)], seed: Long,
      numTrees: Int, bootstrap: Boolean): Histogram = {
    val thresholds = BinnedForest.thresholds(rows.map(_._3))
    val bins = thresholds.length + 1
    val counts = new Array[Double](numTrees * bins * 2)
    val classes = new Array[Long](2)
    val sensorKey = mix(seed ^ mix(sensor.hashCode.toLong))
    rows.foreach { case (_, us, v, a) =>
      classes(a) += 1
      val at = BinnedForest.bin(thresholds, v) * 2 + a
      val rowKey = mix(sensorKey + us)
      var t = 0
      while (t < numTrees) {
        counts(t * bins * 2 + at) += (if (bootstrap) poisson1(rowKey, t) else 1)
        t += 1
      }
    }
    Histogram(sensor, thresholds, counts, classes)
  }

  /** SplitMix64's finalizer. */
  private def mix(x: Long): Long = {
    var z = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** P(Poisson(1) ≤ k) for k = 0 … 20. */
  private val PoissonCdf: Array[Double] =
    (1 to 20).scanLeft(math.exp(-1.0))(_ / _).scanLeft(0.0)(_ + _).tail.toArray

  /** Tree `t`'s bootstrap weight of the row hashed to `rowKey`: a
    * Poisson(1) draw by inversion of a uniform hashed from both, so a
    * row's weights depend only on (seed, sensor, ts, tree) and not on how
    * the history is partitioned. */
  private def poisson1(rowKey: Long, t: Int): Int = {
    val u = (mix(rowKey + (t + 1) * 0x9e3779b97f4a7c15L) >>> 11) * (1.0 / (1L << 53))
    var k = 0
    while (k < PoissonCdf.length && u >= PoissonCdf(k)) k += 1
    k
  }

  /** Posterior P(anomaly) per input row (reference Analyzer.scala:72-83:
    * `rf.predict(tuple, posteriori); posteriori(1)`): appends
    * `p_anomaly` to `values`, which needs a `value` column. */
  def posterior(model: RandomForestClassificationModel, values: DataFrame): DataFrame =
    model.transform(assembler.transform(values))
      .select(values.columns.map(col) :+
        vector_to_array(col("probability")).getItem(1).as("p_anomaly"): _*)

  /** A forest over the one feature as a step function: its sorted split
    * thresholds and the posterior on each interval they bound, the last
    * being above them all. Each interval's posterior is the model's own
    * at the interval's upper end, so a lookup equals [[posterior]]. */
  private def steps(model: RandomForestClassificationModel): (Array[Double], Array[Double]) = {
    def thresholds(n: Node): Iterator[Double] = n match {
      case i: InternalNode => Iterator(i.split.asInstanceOf[ContinuousSplit].threshold) ++
        thresholds(i.leftChild) ++ thresholds(i.rightChild)
      case _ => Iterator.empty
    }
    val ts = model.trees.iterator.flatMap(t => thresholds(t.rootNode)).toArray.distinct.sorted
    (ts, (ts :+ Double.PositiveInfinity).map(v => model.predictProbability(Vectors.dense(v))(1)))
  }

  /** Posterior P(anomaly) of each sensor's latest value. `latest` needs
    * (sensor, value) rows; returns (sensor, full_score) for the sensors
    * that have a model, suitable for [[Anomaly.analysis]]. One plan:
    * each value is looked up in its sensor's step function. */
  def scoreLatest(
      models: Map[String, RandomForestClassificationModel],
      latest: DataFrame): DataFrame = {
    val table = models.map { case (s, m) => s -> steps(m) }
    val score = udf { (s: String, v: Double) =>
      val (ts, ps) = table(s)
      ps(BinnedForest.bin(ts, v))
    }
    latest.filter(col("sensor").isin(table.keys.toSeq: _*))
      .select(col("sensor"), score(col("sensor"), col("value")).as("full_score"))
  }

  /** MLlib-native persistence (replaces the reference's Java-serialized
    * Redis blobs, BinarySerializer.scala:88-101 — M4). */
  def saveAll(models: Map[String, RandomForestClassificationModel], dir: String): Unit =
    models.foreach { case (s, m) => m.write.overwrite().save(s"$dir/$s") }

  /** Human-readable forest dump (reference M5: the decision-tree dot
    * export of README.md:235-239). */
  def describe(model: RandomForestClassificationModel): String =
    model.toDebugString

  def load(dir: String, sensors: Seq[String]): Map[String, RandomForestClassificationModel] =
    sensors.flatMap { s =>
      Try(RandomForestClassificationModel.load(s"$dir/$s")).toOption.map(s -> _)
    }.toMap
}
