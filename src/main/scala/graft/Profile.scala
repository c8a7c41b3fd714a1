package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import com.fasterxml.jackson.core.io.JsonStringEncoder

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev profiler (not part of the driver contract). For each query, in qNN
  * order, of SPARK_GRAFT_QUERIES (comma-separated full names; default:
  * every registered query) on SPARK_GRAFT_SF_DIR at
  * local[SPARK_GRAFT_CPUS], after Bench's warm-up, it prints one JSON line:
  *  - `query`, `status` (`ok` or the failure message), `wall_s` — the
  *    build AND the noop write, as Bench times them (the dedup pipelines
  *    run eager localCheckpoints while the DataFrame is being built);
  *  - `jobs`, `job_sum_s` (summed Spark job walls) and `driver_gap_s`
  *    (wall − job sum, negative when jobs overlap): wall ≫ job sum means
  *    driver-side planning/codegen cost, wall ≈ job sum means executor work;
  *  - `plan` — `target/profile/<qNN>.txt`, the write's executed
  *    FormattedMode plan (AQE's final plan), or null on failure. The file
  *    is normalized so that two runs of the same code, in one JVM or in
  *    two checkouts, write the same bytes unless AQE planned differently:
  *    ids that depend on the JVM or on timing (`plan_id=N`, `#N`
  *    expression ids, RDD, codegen and AQE stage ids, lambda names,
  *    identity hashes, scratch-dir suffixes) are renumbered in order of
  *    first appearance, and the working directory prefix reads `.`.
  *
  * Run: `SPARK_GRAFT_QUERIES=q27_dedup_minhash_lsh sbt "runMain graft.Profile"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(appName = "graft-profile", master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.selectedQueries()
    // Bench's warm-up: JVM, file-index and codegen paths outside the timed region
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.queries("q02_total_by_nation")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    try profile(spark, sfDir, names, Paths.get("target", "profile"))
    finally spark.stop()
  }

  private val Marker = "graft-profile-marker"

  /** Profiles `names` in order, printing and returning one JSON line each.
    * A failing query yields its line and the run goes on. The listeners
    * are registered for the call only.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Path): Seq[String] = {
    val sc = spark.sparkContext
    val jobStarts = new ConcurrentHashMap[Int, Long]()
    val jobWalls = new ConcurrentHashMap[Int, Long]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markersDone = ConcurrentHashMap.newKeySet[Int]()
    val lastQe = new AtomicReference[QueryExecution]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p => p.getProperty("spark.jobGroup.id") == Marker))
          markerJobs.add(j.jobId)
        else jobStarts.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(j.jobId)) markersDone.add(j.jobId)
        else if (jobStarts.containsKey(j.jobId))
          jobWalls.put(j.jobId, j.time - jobStarts.get(j.jobId))
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastQe.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // The listener bus is FIFO: once a marker job's end event arrives,
    // every job and SQL-execution event posted before it has been delivered.
    def drain(): Unit = {
      val before = markersDone.size
      sc.setJobGroup(Marker, Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60e9.toLong
      while (markersDone.size == before && System.nanoTime() < deadline) Thread.sleep(10)
      require(markersDone.size > before, "listener bus did not deliver the marker job within 60 s")
    }

    val workDir = Paths.get("").toAbsolutePath.toString
    Files.createDirectories(outDir)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      drain()
      names.map { name =>
        System.gc()
        jobStarts.clear(); jobWalls.clear(); lastQe.set(null)
        val t0 = System.nanoTime()
        val status =
          try {
            SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
            "ok"
          } catch { case NonFatal(e) => Option(e.getMessage).getOrElse(e.toString) }
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        val jobSum = jobWalls.values.asScala.sum / 1e3
        val plan = Option(lastQe.get).filter(_ => status == "ok").map { qe =>
          val file = outDir.resolve(s"${name.takeWhile(_ != '_')}.txt")
          Files.writeString(file,
            normalize(s"-- $name @ $sfDir\n" + qe.explainString(FormattedMode), workDir))
          file
        }
        val line = s"""{"query":${str(name)},"status":${str(status)},""" +
          f""""wall_s":$wall%.3f,"jobs":${jobWalls.size},"job_sum_s":$jobSum%.3f,""" +
          f""""driver_gap_s":${wall - jobSum}%.3f,"plan":${plan.map(p => str(p.toString)).getOrElse("null")}}"""
        println(line)
        line
      }
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  // ids that depend on the JVM, on what ran earlier in it or on task
  // timing: exchange plan ids, expression ids, RDD ids, codegen stage ids,
  // AQE query-stage ids, the JVM-wide counter in Catalyst's lambda variable
  // names (`lambda x_N`), lambda class names, object identity hashes and
  // the random suffixes of graft's scratch dirs
  private val Ids = Seq("""(plan_id=)(\d+)""", """(#)(\d+)""", """(RDD\[)(\d+)""",
    """(codegen id : )(\d+)""", """(lambda [A-Za-z]\w*?_)(\d+)\b""",
    """(?m)(^\(\d+\) \w*QueryStage\nOutput \[\d+\]: .*\nArguments: )(\d+)$""",
    """(\$\$Lambda)(\$\d+/0x\p{XDigit}+@\p{XDigit}+)""", """([\w$]@)(\p{XDigit}+)\b""",
    """(/graft_[a-z_]+)(\d{12,})""").map(_.r)

  /** `plan` with each kind of id in `Ids` renumbered from 0 in order of
    * first appearance, and paths under `workDir` made relative to it
    * (`./...`).
    */
  private[graft] def normalize(plan: String, workDir: String): String =
    Ids.foldLeft(plan.replace(workDir + "/", "./")) { (text, re) =>
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.replaceAllIn(text, m =>
        Regex.quoteReplacement(m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size)))
    }

  /** `s` as a JSON string literal (Jackson's escaping). */
  private[graft] def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
}
