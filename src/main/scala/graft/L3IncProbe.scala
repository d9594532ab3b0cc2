package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{cosine, norm2}

/** Diagnostic: isolate WHY the incremental-training L3 book's recall
  * collapses on the large clustered corpora (SCALE_r11 gate
  * `l3_inc_recall_below_share`: inc 0.19 vs full 0.32 at 10×, 0.087
  * vs 0.78 at 100×) while BEATING the full book at 1×/2×.
  *
  * Books compared on the same clustered factor-N corpus:
  *   full    — trainedCellsL3 (raw-modulus seed strides)
  *   incT    — trainedCellsL3Inc with seedWhere=TRUE (rank-LCG
  *             selection, NO row exclusion) → isolates the SELECTION
  *             SCHEME from the 90%-training exclusion
  *   inc     — trainedCellsL3Inc("vec_id % 10 <> 0") (the shipped one)
  *
  * Usage: runMain graft.L3IncProbe <baseSfDir> <factor>
  */
object L3IncProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"${ProcScratch.base}/l3incprobe"
    ScaleStress.generate(spark, baseDir, dir, factor, mode = "clustered")

    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), norm2("embedding")).persist()
    val n = e.count()
    val qstep = math.max(1L, n / 100)
    val q = e.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
      .selectExpr("vec_id AS query_id", "embedding AS qe", "n2 AS qn2")
      .persist()
    val cand = e.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
      "n2 AS cn2")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    def top3(joined: DataFrame): Set[(Long, Long)] = joined
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine("qe", "ce", "qn2", "cn2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = top3(q.crossJoin(cand))

    def recallOf(tag: String, book: => DataFrame): Unit = {
      val b = book
      val rows = b.count()
      val cells = b.select("cell").distinct().count()
      val occ = b.groupBy("cell").count().select("count")
        .collect().map(_.getLong(0)).sorted
      val bq = b.filter(pmod(hash(col("vec_id"), lit(77)), lit(qstep)) === 0)
        .selectExpr("vec_id AS query_id", "embedding AS qe",
          "n2 AS qn2", "cell AS probe")
      val bc = b.selectExpr("vec_id AS neighbor_id", "embedding AS ce",
        "n2 AS cn2", "cell AS ccell")
      val got = top3(bq.join(bc, col("probe") === col("ccell")))
      val r = (truth & got).size.toDouble / truth.size
      println(f"[l3incprobe] $tag%-6s recall3=$r%.3f rows=$rows " +
        f"cells=$cells occMax=${occ.last} occMed=${occ(occ.length / 2)} " +
        f"driverSeeds=${ops.SimilarityQueries.TrainedBuildStats.lastDriverSeeds}")
      ScratchCache.release()
    }

    recallOf("full", ops.SimilarityQueries.trainedCellsL3(spark, dir))
    recallOf("incT", ops.SimilarityQueries.trainedCellsL3Inc(spark, dir, "TRUE"))
    recallOf("inc", ops.SimilarityQueries.trainedCellsL3Inc(spark, dir,
      "vec_id % 10 <> 0"))
    spark.stop()
  }
}
