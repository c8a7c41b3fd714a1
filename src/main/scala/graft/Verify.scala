package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.reflect.io.Directory
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** One sorted output file, without betting on an implementation detail:
    * global order surviving `coalesce(1)` happens to hold today but is
    * not contracted by Spark. When the query's analyzed plan ends in a
    * global Sort over plain output columns (every registered query does —
    * the determinism contract is "explicit orderBy on a unique key"),
    * re-assert that exact ordering (direction + null ordering) WITHIN the
    * single coalesced partition; a sort on already-sorted data is one
    * no-op-cheap pass. Queries whose top-level sort keys are not bare
    * attributes fall back to today's behavior unchanged.
    */
  private[graft] def stableSingleFile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, NullsFirst, NullsLast}
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.functions.col
    val one = df.coalesce(1)
    df.queryExecution.analyzed match {
      case s: Sort if s.global =>
        val cols = s.order.flatMap { o =>
          o.child match {
            case a: Attribute => Some((o.direction, o.nullOrdering) match {
              case (Ascending, NullsFirst)  => col(a.name).asc_nulls_first
              case (Ascending, NullsLast)   => col(a.name).asc_nulls_last
              case (Descending, NullsFirst) => col(a.name).desc_nulls_first
              case (Descending, NullsLast)  => col(a.name).desc_nulls_last
            })
            case _ => None
          }
        }
        if (cols.length == s.order.length) one.sortWithinPartitions(cols: _*) else one
      case _ => one
    }
  }

  /** Writes each kept query's result to `$outDir/$name` and returns the
    * names that failed. A query's output dir is deleted before the query
    * runs, so a failure leaves no earlier run's parquet for the oracle
    * compare to read.
    */
  private[graft] def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
      keep: String => Boolean): Seq[String] =
    SparkEntry.queries.toSeq.filter { case (name, _) => keep(name) }.flatMap { case (name, fn) =>
      val out = s"$outDir/$name"
      new Directory(new java.io.File(out)).deleteRecursively()
      try { stableSingleFile(fn(spark, sfDir)).write.parquet(out); None }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  /** `$outDir/oracle_sql.json`: the `keep` entries of
    * `SparkEntry.oracleSql` as one JSON object, strings escaped by
    * `Profile.str` (a tab or CR in an oracle left raw would make the
    * reader's JSON parse fail and zero the correctness compare).
    */
  private[graft] def writeOracleSql(outDir: String, keep: String => Boolean): Unit = {
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${Profile.str(k)}: ${Profile.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(appName = "graft-verify", master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a SPARK_GRAFT_QUERIES subset keeps local delta gates at minutes,
    // not the ~50-minute full-oracle DuckDB grind at sf0.1
    val keep = SparkEntry.selectedQueries().toSet
    dumpQueries(spark, sfDir, outDir, keep)
    writeOracleSql(outDir, keep)
    spark.stop()
  }
}
