package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Superstep

/** HashMin label propagation over an arbitrary undirected edge list —
  * the distributed path of [[graft.pipeline.Dedup.clusterPairs]]
  * (near-duplicate clustering): every round each node takes the
  * minimum label among itself and its neighbors; converged when a
  * round changes nothing.
  *
  * Scale shape: O(diameter) rounds of two shuffles each (join +
  * groupBy), all on hash-uniform ids. Near-dup graphs have tiny
  * diameters (clusters are quasi-cliques), so this converges in 2-3
  * rounds at any corpus size; `maxIters` bounds deep graphs loudly.
  * Each round is one [[Superstep]] checkpoint with the change count
  * observed on it; superseded rounds are released as the loop goes.
  */
object Components {

  /** `nodes`: single column `id`. `edges`: columns `u`, `v` (each
    * undirected pair in either or both orientations). Returns
    * (id, component) with component = the minimum id reachable from
    * `id` (isolated nodes map to themselves). The final round stays
    * checkpointed behind the result.
    */
  def minLabel(nodes: DataFrame, edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val nbrs = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    // state: (round frame with its `changed` flags, the number changed)
    Superstep.run("minLabel", edges.sparkSession, maxIters)(
        (nodes.select(col("id"), col("id").as("component")), -1L))(
        _.last._2 == 0, st => Seq(st._1)) { case ((cur, _), _) =>
      val comp = cur.select(col("id"), col("component"))
      val nbrMin = nbrs
        .join(comp.select(col("id").as("v"), col("component").as("vc")), Seq("v"))
        .groupBy(col("u")).agg(min(col("vc")).as("nc"))
      val (next, m) = Superstep.observed(comp
        .join(nbrMin.withColumnRenamed("u", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nc"), col("component"))).as("component"),
          (coalesce(col("nc"), col("component")) < col("component")).as("changed")),
        count(when(col("changed"), lit(1))).as("n_changed"))
      (next, m("n_changed"))
    }.last._1.select(col("id"), col("component"))
  }
}
