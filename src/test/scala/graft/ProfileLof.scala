package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{SessionArtifacts, Similarity}
import graft.sources.Tables

/** Dev-only stage profile for q290 (round-13 ask #4): where does the
  * sf1eq 105 s wall go — the shared cell-restricted kNN graph build
  * (Lloyd train + in-cell candidate pairs + top-k cut) or the
  * LOF-specific joins on top of it? Run at sf0.1 and target/sf1eq.
  *
  *   SPARK_GRAFT_SF_DIR=target/sf1eq sbt "Test/runMain graft.ProfileLof"
  */
object ProfileLof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession
      .builder(appName = "graft-profile-lof", master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      f
      println(f"[lof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val embs = Tables.embeddings(spark, sfDir)
    val n = embs.count()
    println(s"[lof] corpus n=$n, autoCells=${Similarity.kCellsFor(n)}")
    // stage 1: the shared cell-restricted kNN graph alone (build + scan)
    var graph: DataFrame = null
    time("cellKnnGraph(k=5, auto)") {
      graph = Similarity.cellKnnGraph(embs, 5, Similarity.AutoCells)
      noop(graph)
    }
    println(s"[lof] graph edges=${graph.count()}")
    // stage 2: LOF end-to-end with a COLD graph cache (the pre-round-13
    // behavior: every consumer rebuilt the graph)
    SessionArtifacts.clearAll()
    time("lofOutliers total (fresh graph)")(noop(Similarity.lofOutliers(embs)))
    // stage 3: LOF riding the session-cached graph (the round-13 path
    // q207/q208/q231/q290 take after q194 builds it)
    time("lofOutliers total (cached graph)")(noop(Similarity.lofOutliers(embs)))
    spark.stop()
  }
}
