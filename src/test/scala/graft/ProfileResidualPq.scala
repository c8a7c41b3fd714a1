package graft

/** Dev harness (like Profile/ProfileOutliers): measure the recall@k delta
  * between raw-vector IVF-PQ (`ivfPqResidualRecall`'s production sibling)
  * and FAISS-style per-cell residual IVF-PQ at shared dials — the number
  * behind the q149 simplification trade recorded in SURVEY §6.7.
  *
  * shortlist = k isolates pure ADC ranking quality (the exact re-rank is
  * an identity on k candidates); larger shortlists show how much slack
  * the re-rank buys each form. Recall truth is exact float cosine.
  */
object ProfileResidualPq {
  def main(args: Array[String]): Unit = {
    import graft.operators.{SessionArtifacts, Similarity}
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession
      .builder(appName = "graft-profile-residual-pq", master = "local[32]",
        shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val embs = sources.Tables.embeddings(spark, sfDir)
    val nQueries = 50
    val k = 5
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warm
    def meanRecall(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val t0 = System.nanoTime()
      val rows = df.collect().map(_.getDouble(2))
      (rows.sum / rows.length, (System.nanoTime() - t0) / 1e9)
    }
    println(s"[profile] corpus=${embs.count()} vectors, nQueries=$nQueries, k=$k")
    for (coarse <- Seq(0, 2); nProbe <- Seq(2, 4); shortlist <- Seq(k, 15, 50)) {
      SessionArtifacts.clearAll()
      val (rawR, rawT) = meanRecall(Similarity.ivfPqAnnRecall(embs,
        nCentroids = 16, nProbe = nProbe, shortlist = shortlist,
        nQueries = nQueries, k = k, coarseIters = coarse))
      val (resR, resT) = meanRecall(Similarity.ivfPqResidualRecall(embs,
        nCentroids = 16, nProbe = nProbe, shortlist = shortlist,
        nQueries = nQueries, k = k, coarseIters = coarse))
      println(f"[profile] coarseIters=$coarse nProbe=$nProbe shortlist=$shortlist: " +
        f"raw recall=$rawR%.4f (${rawT}%.1f s)  residual recall=$resR%.4f (${resT}%.1f s)  " +
        f"delta=${resR - rawR}%+.4f")
    }
    spark.stop()
  }
}
