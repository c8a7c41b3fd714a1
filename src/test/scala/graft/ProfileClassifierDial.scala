package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, SessionArtifacts}
import graft.sources.Tables

/** Dev-only classifier PRODUCTION-dial experiment
  * (Test/runMain graft.ProfileClassifierDial).
  *
  * ProfileScaling's clsdial section measures buckets = 2^15 on the raw
  * replica corpora, but the synthetic vocabulary is ~31 words (× ~31
  * pseudo-words per extra replica), so the OBSERVED-bucket frame — what
  * the per-round gradient collect and weight broadcast are actually
  * bounded by — never leaves the hundreds. This main makes the dial
  * REAL: every token gets a per-doc salt (`tok:doc_id % g`), multiplying
  * the vocabulary by g, so at g = 1024 the corpus carries ~31k distinct
  * tokens and the 2^15-bucket table reaches its ~63% birthday-bound
  * occupancy (~20k observed buckets) — a fastText-scale hashed
  * vocabulary with a ~20k-row gradient collect per round.
  *
  * What must stay bounded for the Lloyd-pattern claim at this dial:
  * wv_rows (the driver state = gradient collect = broadcast, ≤ observed
  * buckets + 1, corpus-independent) and t_per_round (two map-side-
  * combined aggregates over the persisted feature frame, ~linear in
  * corpus size, independent of rounds). rounds = 8 and rounds = 16 are
  * distinct weights-cache keys but share the session feature frame, so
  * (t16 - t8) / 8 isolates the marginal per-round cost.
  */
object ProfileClassifierDial {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession
      .builder(appName = "graft-clsdial", master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = Tables.documents(spark, sfDir).select($"doc_id", $"lang", $"text")
    // ProfileScaling's replica map (length-preserving pseudo-words, so
    // replicas share no vocabulary) restricted to the classifier columns
    def replica(r: Int): DataFrame =
      if (r == 0) base
      else base.select(
        ($"doc_id" + lit(r * 10000000L)).as("doc_id"),
        $"lang",
        array_join(
          transform(split($"text", " "),
            w => md5(concat(w, lit(s":$r"))).substr(lit(1), greatest(length(w), lit(1)))),
          " ").as("text"))

    // vocabulary multiplier: the salt is a function of (token, doc) only,
    // so token counts per doc are preserved and the label signal is
    // unchanged — only the FEATURE CARDINALITY grows
    def vocabExpand(df: DataFrame, g: Int): DataFrame =
      df.withColumn("text",
        array_join(
          transform(split($"text", " "),
            w => concat(w, lit(":"), pmod($"doc_id", lit(g.toLong)))),
          " "))

    val prodBuckets = 32768
    println("[clsdial] scale g docs wv_rows t_frame+1r_s t_8r_s t_16r_s t_per_round_s")
    for (s <- Seq(1, 3, 10)) {
      val g = 1024
      val docs = vocabExpand(
          (0 until s).map(replica).reduce(_ union _), g)
        .repartition(32).persist()
      val nDocs = docs.count()
      SessionArtifacts.clearAll()
      System.gc()
      val (wv, tWarm) = time {
        Curation.qualityClassifierWeights(docs, buckets = prodBuckets, rounds = 1).count()
      }
      val (_, t8) = time {
        Curation.qualityClassifierWeights(docs, buckets = prodBuckets, rounds = 8).count()
      }
      val (_, t16) = time {
        Curation.qualityClassifierWeights(docs, buckets = prodBuckets, rounds = 16).count()
      }
      docs.unpersist()
      SessionArtifacts.clearAll()
      val perRound = (t16 - t8) / 8.0
      println(f"[clsdial] x$s%-2d g=$g $nDocs%6d $wv%6d $tWarm%8.2f $t8%8.2f $t16%8.2f $perRound%8.2f")
    }
    spark.stop()
  }
}
