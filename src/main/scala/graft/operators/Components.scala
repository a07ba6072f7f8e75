package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation with
  * pointer jumping (path halving) — the clustering core shared by
  * duplicate-cluster resolution (q50) and incremental corpus dedup
  * (q57).
  *
  * Scale design (100 TB): each round is two equi-joins + one
  * min-aggregate over the edge list; pointer jumping squares the
  * propagation distance per round, so rounds are O(log diameter)
  * instead of O(diameter). The driver sees only a convergence COUNT per
  * round, never rows. At extreme scale the same loop body becomes
  * alternating large-star/small-star (Kiveris et al.) — identical join
  * shape, fewer rounds.
  *
  * Lineage control (round-2 lesson): the loop references the label
  * frame twice per round, so left to itself the SQL plan DOUBLES per
  * round (exponential analysis cost — q50 hit 291 s before the fix).
  * Each round's result is frozen to a flat LogicalRDD
  * (`createDataFrame(df.rdd, df.schema)`, GraphFrames'
  * getCachedDataFrame trick) and persisted; the persisted RDD keeps its
  * own lineage for fault recovery while the plan stays O(1) to analyze.
  * The convergence check is a `count()` — a FULL materialization of the
  * new round's cache — so unpersisting the previous round afterwards
  * can never force recomputation through the dropped parent (round-2
  * advisory: `isEmpty` short-circuits and left the cache partial).
  */
object Components {

  /** Labels plus convergence telemetry. `labels` is persisted; the
    * caller owns its lifecycle (unpersist or hand to a memo). */
  final case class Result(labels: DataFrame, rounds: Int)

  /** Connected components over an undirected edge list given as one
    * direction `(src, dst)`. Returns `(doc_id, lbl)` for every node
    * incident to an edge, `lbl` = min node id of the component.
    *
    * @throws IllegalStateException if the loop has not converged after
    *         `maxRounds` — with pointer jumping that means diameter
    *         > 2^maxRounds, i.e. something is wrong with the input;
    *         returning partial labels silently would mislabel clusters.
    */
  def run(pairs: DataFrame, maxRounds: Int = 32): Result = {
    val spark = pairs.sparkSession
    import spark.implicits._
    def freeze(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema).persist()
    val edges = freeze(
      pairs.select($"src", $"dst")
        .union(pairs.select($"dst".as("src"), $"src".as("dst"))))
    var cached = freeze(edges.select($"src".as("doc_id")).distinct()
      .withColumn("lbl", $"doc_id"))
    var labels = cached
    var converged = false
    var rounds = 0
    // each round: (1) take the min label over self+neighbors, then
    // (2) PUSH the improvement to the previous label tree's root (a
    // node that just learned a smaller label hands it straight to the
    // node it pointed at, so a whole basin re-labels on the next jump
    // instead of diffusing the new min node-by-node through its
    // interior — without this, two meeting label basins merge in
    // O(basin radius) rounds and a high-diameter percolated graph
    // (q223's density-normalized ε-grid was the round-11 trigger:
    // >32 rounds with thousands of labels still moving) degrades the
    // loop to O(diameter)), then
    // (3) pointer-jump — adopt the label OF your label.
    // All three steps are monotone label decreases within the node's
    // own component, so the fixpoint — min id per component — is
    // unchanged; only the round count changes.
    while (!converged && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select($"doc_id".as("dst"), $"lbl".as("nbl")), Seq("dst"))
        .groupBy($"src").agg(min($"nbl").as("nbl"))
      val relabeled = labels
        .join(nbrMin.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left_outer")
        .select($"doc_id", least($"lbl", coalesce($"nbl", $"lbl")).as("lbl"),
          $"lbl".as("olbl"))
      val rootMin = relabeled.groupBy($"olbl").agg(min($"lbl").as("rmin"))
        .select($"olbl".as("doc_id"), $"rmin")
      val pushed = relabeled
        .join(rootMin, Seq("doc_id"), "left_outer")
        .select($"doc_id", least($"lbl", coalesce($"rmin", $"lbl")).as("lbl"),
          $"olbl")
      val parents = pushed.select($"doc_id".as("pid"), $"lbl".as("plbl"))
      val stepped = freeze(
        pushed.join(parents, pushed("lbl") === parents("pid"), "left_outer")
          .select(pushed("doc_id"),
            least(pushed("lbl"), coalesce($"plbl", pushed("lbl"))).as("nlbl"),
            $"olbl"))
      // count(), not isEmpty: materializes EVERY partition of the new
      // cache before the old one is dropped
      val moved = stepped.filter($"nlbl" < $"olbl").count()
      converged = moved == 0
      cached.unpersist()
      cached = stepped
      labels = stepped.select($"doc_id", $"nlbl".as("lbl"))
      rounds += 1
    }
    if (!converged) {
      cached.unpersist(); edges.unpersist()
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds pointer-jumping rounds")
    }
    val out = freeze(labels)
    out.count() // materialize before dropping the loop's last cache
    cached.unpersist()
    edges.unpersist()
    Result(out, rounds)
  }
}
