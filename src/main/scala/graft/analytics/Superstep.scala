package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one round driver of the iterative graph operators. Every
  * superstep is the same join-plus-group-by over a vertex relation and
  * a static edge relation (the Pregelix shape, PAPERS.md); what the
  * loops around it share lives here:
  *
  *  - [[checkpoint]] / [[observed]]: an eager `localCheckpoint` at
  *    MEMORY_AND_DISK — served from deserialized memory while a frame
  *    fits, spilled when it does not — with the round's convergence
  *    metrics observed on the same job, so a round is one job, not a
  *    job plus a count;
  *  - [[run]]: a loud `require(round < maxIters)`, the job description
  *    `<op>:r<N>` on every job of round N (restored afterwards), the
  *    release of each superseded round and, once the loop ends, of the
  *    loop's static edge checkpoints.
  *
  * A local checkpoint cannot recompute, so a release may only free a
  * frame nothing downstream reads: the superseded round (its successor
  * is already materialized) and the static edges (the final state was
  * materialized from them). Frames behind a returned result stay
  * cached for the caller.
  */
private[graft] object Superstep {

  private val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Materialize `df` now. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true, Level)

  /** Materialize `df` now, observing `metrics` (each aliased) in the
    * same job. A metric that is null (a sum over no rows) reads 0.
    */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Long]) = {
    val obs = Observation()
    val cp = checkpoint(df.observe(obs, metrics.head, metrics.tail: _*))
    (cp, obs.get.map { case (k, v) => k -> (if (v == null) 0L else v.asInstanceOf[Number].longValue) })
  }

  /** Release the blocks behind eager checkpoints; a no-op on any
    * frame that is not one.
    */
  def free(dfs: DataFrame*): Unit = dfs.foreach(GraphAnalytics.freeCheckpoint)

  /** Run `step` from `init` (round 0) until `done(states so far)`,
    * failing loudly instead of running round `maxIters + 1`. After
    * each round the frames `release` names in the superseded state
    * are freed — loops that return every round name none — and
    * `edges` are freed once the loop ends. Returns every state, `init`
    * first, so the number of rounds run is `size - 1`.
    */
  def run[S](op: String, spark: SparkSession, maxIters: Int, edges: Seq[DataFrame] = Nil)(
      init: => S)(done: Vector[S] => Boolean, release: S => Seq[DataFrame])(
      step: (S, Int) => S): Vector[S] = {
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription(s"$op:r0")
      var states = Vector(init)
      while (!done(states)) {
        val round = states.size
        require(round <= maxIters, s"$op did not converge in $maxIters rounds")
        sc.setJobDescription(s"$op:r$round")
        states :+= step(states.last, round)
        free(release(states(round - 1)): _*)
      }
      states
    } finally {
      free(edges: _*)
      sc.setJobDescription(prevDesc)
    }
  }
}
