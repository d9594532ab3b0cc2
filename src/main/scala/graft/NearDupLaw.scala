package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.cosine

/** The ONE place the near-dup measurement law lives — shared by
  * AnnClusteredStress (whose gates enforce floors) and ProbeTune
  * (whose measured frontier justifies those floors): if the two
  * drifted apart (a threshold or direction change applied to one),
  * the floor-to-frontier traceability would silently break.
  */
object NearDupLaw {

  /** The declared near-dup threshold (SimilarityQueries' family). */
  val Threshold = 0.4

  /** True/found pair extraction over a joined frame with columns
    * (query_id, neighbor_id, qe, ce, qn2, cn2): distinct ordered pairs
    * whose exact cosine clears the threshold. */
  def pairs(df: DataFrame): Set[(Long, Long)] = df
    .filter(col("query_id") =!= col("neighbor_id"))
    .select(col("query_id"), col("neighbor_id"),
      cosine("qe", "ce", "qn2", "cn2"))
    .filter(col("cosine") >= Threshold)
    .select("query_id", "neighbor_id").collect()
    .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** REMOVAL recall — the decision metric of a dedup pass: a row with
    * ANY true lower-id duplicate is removed as long as the blocker
    * finds ANY ONE lower-id duplicate for it (every found pair is a
    * true pair; which one is immaterial to removal). */
  def removalRecall(truth: Set[(Long, Long)],
      got: Set[(Long, Long)]): Double = {
    val remTruth = truth.collect { case (q, nb) if nb < q => q }
    val remGot = got.collect { case (q, nb) if nb < q => q }
    if (remTruth.isEmpty) 1.0
    else (remTruth & remGot).size.toDouble / remTruth.size
  }
}
