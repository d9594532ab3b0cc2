package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression

/** Which codebook route built a frame and how many seed rows its driver
  * held, read from the frame itself: the kernels in its analyzed plan
  * carry their broadcast books, so the plan is the evidence of the size
  * switch (a Scaladoc claim that the switch fires is not). Pure — no
  * job, no session or global state — so concurrent builds in one
  * session each read their own route.
  *
  *  - `route` is `broadcast` when a whole-book kernel routes the rows
  *    (the TwoLevel* family), `dist` when only a super/grand book rides
  *    a broadcast and ChildBlock* scans finish against joined blocks
  *    (the two-level dist build, the three-level build, semClusters'
  *    DataFrame-centroid rounds); prefixed `lsh-` for the per-bucket
  *    books of lshRefined ([[BucketedArgminBroadcast]],
  *    [[BucketSuperArgminBroadcast]]); `none` without any book kernel.
  *  - `driverSeeds` is the row count of the largest broadcast book —
  *    children for a whole book, supers or grands for a dist route,
  *    summed over buckets for the per-bucket maps. A plan that holds
  *    several books (semClusters' dist route keeps every Lloyd round in
  *    its lineage) reports the largest, the most the driver held at
  *    once. */
final case class BookRoute(route: String, driverSeeds: Int)

object BookRoute {

  private def children(b: TwoLevelBook): Int = b._3.map(_.length).sum

  /** (whole book, per bucket, book rows) of a codebook kernel. */
  private def book(e: Expression): Option[(Boolean, Boolean, Int)] = e match {
    case k: TwoLevelArgminBroadcast => Some((true, false, children(k.codebook.value)))
    case k: TwoLevelArgmin2Broadcast => Some((true, false, children(k.codebook.value)))
    case k: TwoLevelArgminH2Broadcast => Some((true, false, children(k.codebook.value)))
    case k: TwoLevelProbesBroadcast => Some((true, false, children(k.codebook.value)))
    case k: BucketedArgminBroadcast =>
      Some((true, true, k.codebook.value.values.map(children).sum))
    case k: SuperArgminBroadcast => Some((false, false, k.supers.value._1.length))
    case k: SuperArgmin2Broadcast => Some((false, false, k.supers.value._1.length))
    case k: SuperTopKBroadcast => Some((false, false, k.supers.value._1.length))
    case k: BucketSuperArgminBroadcast =>
      Some((false, true, k.supers.value.values.map(_._1.length).sum))
    case _ => None
  }

  def of(df: DataFrame): BookRoute = {
    val books = df.queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.flatMap(book(_))))
    if (books.isEmpty) BookRoute("none", 0)
    else BookRoute(
      (if (books.exists(_._2)) "lsh-" else "") +
        (if (books.exists(_._1)) "broadcast" else "dist"),
      books.map(_._3).max)
  }
}
