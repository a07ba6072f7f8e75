package org.apache.spark.ml.tree.graft

import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, RandomForestClassificationModel}
import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.ml.tree.impl.{DecisionTreeMetadata, RandomForest}
import org.apache.spark.mllib.tree.configuration.QuantileStrategy
import org.apache.spark.mllib.tree.impurity.{Gini, GiniCalculator}

/** MLlib's random forest classifier for a single continuous feature and
  * two classes, grown from per-bin class counts instead of from rows.
  *
  * With one feature every tree node covers a contiguous run of bins, so a
  * node's split search needs only the counts of those bins: the per-(tree,
  * bin, class) histogram is a sufficient statistic (MLlib's own histogram
  * method, PLANET, Panda et al., VLDB 2009). The rules are those of
  * `RandomForestClassifier` with Gini impurity, `maxDepth` 5 and
  * `maxBins` 512: the split thresholds of `findSplitsForContinuousFeature`,
  * `binsToBestSplit`'s gain and validity rules (minInstancesPerNode 1,
  * minInfoGain 0, the lowest split index among equal gains), a pure child
  * is a leaf, and sibling leaves with one prediction are pruned into
  * their parent. The result is a real `RandomForestClassificationModel`.
  *
  * It lives under `ml.tree` because the split rule is `private[tree]`. */
object BinnedForest {

  /** With MLlib's default of 32, every quantile threshold falls inside
    * the dense normal-value range (anomalies are ~3 % tail mass) and the
    * trees predict the prior; 512 bins give the tail its own thresholds. */
  val MaxBins = 512
  val MaxDepth = 5

  /** MLlib's split thresholds for one continuous feature over `values`,
    * each of weight 1. MLlib samples at most max(maxBins², 10 000) rows
    * for this, so below that every row takes part, as here. */
  def thresholds(values: Array[Double]): Array[Double] = {
    val n = values.length.toLong
    val meta = new DecisionTreeMetadata(1, n, n.toDouble, 2, MaxBins, Map.empty, Set.empty,
      Array(math.min(MaxBins.toLong, n).toInt), Gini, QuantileStrategy.Sort, MaxDepth, 1, 0.0,
      0.0, 1, 1)
    RandomForest.findSplitsForContinuousFeature(values.map(v => (1.0, v)), meta, 0)
  }

  /** The bin of `v`: the index of the first threshold `v` does not
    * exceed, or `thresholds.length` above them all. `v ≤ threshold` goes
    * left, as in MLlib's `ContinuousSplit`. */
  def bin(thresholds: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = thresholds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v <= thresholds(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** A forest of `numTrees` trees. `hist` holds the weighted class counts
    * of tree t, bin b, class k at `(t * (thresholds.length + 1) + b) * 2 + k`;
    * the weights are whole numbers, so every sum below is exact. */
  def forest(thresholds: Array[Double], hist: Array[Double], numTrees: Int)
      : RandomForestClassificationModel = {
    val bins = thresholds.length + 1
    val trees = Array.tabulate(numTrees) { t =>
      new DecisionTreeClassificationModel(tree(thresholds, hist, t * bins * 2), 1, 2)
    }
    new RandomForestClassificationModel(trees, 1, 2)
  }

  private def gini(c0: Double, c1: Double): Double = {
    val n = c0 + c1
    if (n == 0) 0.0 else { val f0 = c0 / n; val f1 = c1 / n; 1.0 - f0 * f0 - f1 * f1 }
  }

  private def calculator(c0: Double, c1: Double) = new GiniCalculator(Array(c0, c1), (c0 + c1).toLong)

  /** One tree over the histogram slice at `off` (bin-major, class-minor). */
  private def tree(thresholds: Array[Double], h: Array[Double], off: Int): Node = {
    def leaf(calc: GiniCalculator, impurity: Double) = new LeafNode(calc.predict, impurity, calc)

    /** The node over bins lo..hi at `level`, holding c0/c1 of each class. */
    def grow(lo: Int, hi: Int, level: Int, c0: Double, c1: Double): Node = {
      val calc = calculator(c0, c1)
      val impurity = gini(c0, c1)
      // the split after bin s sends bins lo..s left; splits leaving a side
      // empty are invalid, as are negative gains
      var best = -1
      var bestGain = Double.MinValue
      var bestL0, bestL1 = 0.0
      var l0, l1 = 0.0
      var s = lo
      while (s < hi) {
        l0 += h(off + 2 * s)
        l1 += h(off + 2 * s + 1)
        val r0 = c0 - l0
        val r1 = c1 - l1
        val lc = l0 + l1
        val rc = r0 + r1
        if (lc >= 1 && rc >= 1) {
          val total = lc + rc
          val gain = impurity - lc / total * gini(l0, l1) - rc / total * gini(r0, r1)
          if (gain >= 0 && gain > bestGain) {
            best = s; bestGain = gain; bestL0 = l0; bestL1 = l1
          }
        }
        s += 1
      }
      if (best < 0) leaf(calc, -1.0) // no valid split: MLlib's invalid-stats leaf
      else if (bestGain <= 0 || level == MaxDepth) leaf(calc, impurity)
      else {
        def child(from: Int, to: Int, k0: Double, k1: Double): Node = {
          val cc = calculator(k0, k1)
          val ci = gini(k0, k1)
          if (level + 1 == MaxDepth || math.abs(ci) < Utils.EPSILON) leaf(cc, ci)
          else grow(from, to, level + 1, k0, k1)
        }
        (child(lo, best, bestL0, bestL1), child(best + 1, hi, c0 - bestL0, c1 - bestL1)) match {
          case (l: LeafNode, r: LeafNode) if l.prediction == r.prediction =>
            new LeafNode(l.prediction, impurity, calc)
          case (l, r) =>
            new InternalNode(calc.predict, impurity, bestGain, l, r,
              new ContinuousSplit(0, thresholds(best)), calc)
        }
      }
    }

    var c0, c1 = 0.0
    var b = 0
    while (b <= thresholds.length) { c0 += h(off + 2 * b); c1 += h(off + 2 * b + 1); b += 1 }
    grow(0, thresholds.length, 0, c0, c1)
  }
}
