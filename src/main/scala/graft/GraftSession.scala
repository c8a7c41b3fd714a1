package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * The reference (`/root/reference/D/Program.cs:34-36`) hand-tunes a bounded
  * worker pool (5 workers x 1M rows); on Spark the equivalent knobs are the
  * shuffle-partition count and AQE, which re-plans partition counts and skew
  * splits at runtime (the reference's skew roll-over, `D/Program.cs:131-139`,
  * is AQE's OptimizeSkewedJoin).
  *
  * Scale notes (100 TB design point, tested on local[32]):
  *   - AQE on: runtime coalescing of small shuffle partitions + skew-join
  *     splitting replaces any static chunk-size constant.
  *   - `spark.sql.shuffle.partitions` is a *starting* parallelism; on a real
  *     cluster set it ~2-3x total executor cores and let AQE coalesce.
  *   - Broadcast threshold left at default 10 MB: dimension tables (nation,
  *     region, customer at small SF) broadcast automatically; at 100 TB the
  *     fact tables never do.
  */
object GraftSession {
  def builder(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
