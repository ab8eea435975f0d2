package graft.stats

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cluster-robust sandwich meat: per-cluster score sums → Gramian
  * (helpers.R:7-22, V3), the estimators' DataFrame backend's meat (the
  * array backend, LocalBattery, sums the same blocks of consecutive rows
  * in the task). Two distributed aggregations: a hash-shuffle
  * groupBy(cluster) with map-side partial vector sums, then a tiny
  * cross-moment of the sums with themselves, one row per cluster.
  *
  * REFERENCE QUIRK (replicated faithfully, SURVEY.md §7.4.2/§7.4.5):
  * the reference's "balanced" path reshapes the score matrix as
  * array(scores, dim=c(t_max, n_users, d)) — but its panel rows are laid
  * out USER-fastest (generate_data.R:77-93), so each "user" group is in
  * fact t_max CONSECUTIVE ROWS spanning different users at the same time
  * point. The committed golden SEs (example_estimates.csv) depend on this
  * grouping — verified numerically (tools/golden_oracle.py): block
  * clustering reproduces 1.259/1.379 for WCLS-Internal, true per-user
  * clustering gives 1.233/1.385. The estimators cluster by
  * FrameMoments.withBlockCluster, which reproduces the golden semantics;
  * pass `df("user_id")` for true per-user clustering.
  */
object Sandwich {

  /** meat = Σ_c (Σ_rows∈c s)(Σ_rows∈c s)ᵀ over score vector column. */
  def meat(df: DataFrame, scores: Design, cluster: Column): DenseMatrix[Double] = {
    val perCluster = df.groupBy(cluster.as("__cluster"))
      .agg(Aggregates.vsum(scores.arr, lit(1.0)).as("__ssum"))
    val flat = perCluster
      .select(Aggregates.cross(col("__ssum"), col("__ssum"), lit(1.0)))
      .head().getSeq[Double](0)
    val d = scores.width
    LinAlg.fromFlat(flat, d, d)
  }
}
