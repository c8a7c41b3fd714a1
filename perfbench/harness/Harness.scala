package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, shiftrightunsigned, struct, sum, to_json, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.operators.Fidelity
import graft.sources.CsvSource

/** One benchmark process: builds the session the way `graft.Bench` does,
  * runs one workload's operations as a single closed-loop client, and
  * writes one JSON record (op walls, setup times, and with tracing on the
  * raw Spark events) for `run.py` to turn into metrics.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <trace 0|1> <minSeconds>
  *   <launchEpochMs> <setups>
  *
  * Every call into the program goes through a public entry point:
  * `SparkEntry.queries`, `Fidelity.donationTotalByState` and the
  * `CsvSource` readers and writers.
  */
object Harness {

  /** An operation: a construction call that returns the frame, and a sink. */
  final case class Op(name: String, role: String, construct: () => DataFrame,
      sink: DataFrame => Unit, digest: Boolean)

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with listener times. */
  def nowMs(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, traceArg, minSecondsArg, launchArg, setupsArg) = args
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    new File(outDir).mkdirs()

    // Set-up is repeated in-process: the first from process launch, the
    // rest from a stopped session, each with graft.Bench's warm-up.
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until setupsArg.toInt) {
      val start = if (i == 0) launchArg.toDouble else nowMs()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = GraftSession
        .builder(appName = "perfbench", master = s"local[$cores]", shufflePartitions = cores)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      warmUp(spark, workload, dataDir)
      setups += (nowMs() - start) / 1000.0
    }

    val recorder = if (trace) Some(new Recorder(spark)) else None
    val ops = Workloads.ops(workload, spark, dataDir, outDir, cores)
    val records = scala.collection.mutable.ArrayBuffer.empty[String]
    val frames = scala.collection.mutable.Map.empty[String, DataFrame]
    val minMs = minSecondsArg.toDouble * 1000.0
    val runStart = nowMs()
    var pass = 0
    while (pass == 0 || nowMs() - runStart < minMs) {
      for (op <- ops) records += runOp(spark, op, records.size, pass, recorder, frames)
      pass += 1
    }
    val runEnd = nowMs()
    collectAndSampleHeap() // what the last operation left live
    recorder.foreach(_.drain())

    // Output digests of the last pass's frames for run.py's checks,
    // outside the timed region.
    val digests = ops.filter(_.digest).map { op =>
      val d = try frames.get(op.name).map(Digest.of).getOrElse("not constructed")
      catch { case scala.util.control.NonFatal(e) => s"error: $e" }
      s"${Json.str(op.name)}:${Json.str(d)}"
    }

    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val out = new StringBuilder("{")
    out ++= s""""workload":${Json.str(workload)},"cores":$cores,"passes":$pass,"""
    out ++= s""""setup_s":${setups.mkString("[", ",", "]")},"""
    out ++= s""""run_ms":${runEnd - runStart},"peak_rss_kb":${vmHwmKb()},"cached_bytes":$cachedBytes,"""
    out ++= s""""peak_live_heap_bytes":$peakLiveHeap,"""
    out ++= s""""digests":{${digests.mkString(",")}},"""
    out ++= s""""ops":${records.mkString("[", ",", "]")}"""
    recorder.foreach(r => out ++= "," + r.json)
    out ++= "}"
    val pw = new PrintWriter(new File(outDir, "harness.json"), "UTF-8")
    try pw.println(out.toString) finally pw.close()
    spark.stop()
  }

  /** graft.Bench's warm-up; on the CSV workload a CSV read replaces its
    * parquet query, so that workload needs no fixture tables.
    */
  private def warmUp(spark: SparkSession, workload: String, dataDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    if (workload == "donations_csv")
      CsvSource.donors(spark, s"$dataDir/warmup_donors.csv").write.format("noop").mode("overwrite").save()
    else
      SparkEntry.queries("q02_total_by_nation")(spark, dataDir)
        .write.format("noop").mode("overwrite").save()
  }

  private def runOp(spark: SparkSession, op: Op, index: Int, pass: Int,
      recorder: Option[Recorder], frames: scala.collection.mutable.Map[String, DataFrame]): String = {
    val sc = spark.sparkContext
    sc.setJobGroup(index.toString, op.name)
    collectAndSampleHeap()
    val cg0 = recorder.map(_ => Codegen.snapshot())
    val start = nowMs()
    var mid = start
    var error: Option[String] = None
    try {
      sc.setLocalProperty("perfbench.phase", "construct")
      val df = op.construct()
      mid = nowMs()
      frames(op.name) = df
      sc.setLocalProperty("perfbench.phase", "sink")
      op.sink(df)
    } catch {
      case scala.util.control.NonFatal(e) => error = Some(String.valueOf(e))
    }
    val end = nowMs()
    if (mid == start) mid = end // construction threw: the whole wall is construction
    sc.setLocalProperty("perfbench.phase", null)
    sc.clearJobGroup()
    val cg = cg0.map(c => Codegen.since(c)).getOrElse("")
    s"""{"i":$index,"pass":$pass,"name":${Json.str(op.name)},"role":${Json.str(op.role)},""" +
      s""""start_ms":$start,"mid_ms":$mid,"end_ms":$end,"error":${error.map(Json.str).getOrElse("null")}$cg}"""
  }

  private var peakLiveHeap = 0L

  /** graft.Bench's per-operation GC, then the heap still in use: the live
    * data (cached blocks, broadcasts, driver-side artifacts) that earlier
    * operations retained. Its peak is a steadier memory figure than RSS,
    * which follows the collector's heap-sizing decisions.
    */
  private def collectAndSampleHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakLiveHeap = math.max(peakLiveHeap, used)
  }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

}

/** Order-insensitive digest of a frame: the row count and two 32-bit-lane
  * sums of each row's xxhash64 over its JSON form. Sums commute, so the
  * digest ignores row order and partitioning.
  */
object Digest {
  def of(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$lo%x:$hi%x"
  }
}

/** Prints whether the digest ignores row order and partitioning, and
  * whether it sees a one-value change, on a small mixed-type frame.
  */
object DigestSelfCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(appName = "perfbench-digest", master = "local[2]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.range(5000).selectExpr("id", "id * 0.5 AS half",
      "IF(id % 7 = 0, NULL, concat('k', id % 13)) AS key", "array(id, id + 1) AS pair")
    val base = Digest.of(df)
    val shuffled = Digest.of(df.orderBy(org.apache.spark.sql.functions.rand(1)).repartition(7))
    val changed = Digest.of(df.selectExpr("IF(id = 4321, id + 1, id) AS id", "half", "key", "pair"))
    println(s"""{"base":${Json.str(base)},"shuffled":${Json.str(shuffled)},"changed":${Json.str(changed)}}""")
    spark.stop()
  }
}

/** The three workloads' operation lists. */
object Workloads {
  import Harness.Op

  /** A spread of the relational surface (aggregate, inner and anti join,
    * cube, window, set operations, a filtered join), sized so one pass
    * fits the run budget.
    */
  val relational: Seq[String] = Seq(
    "q01_sum_by_group", "q04_join_inner", "q07_join_anti", "q13_cube", "q15_window_rank",
    "q19_set_ops", "q188_brand_bands")

  /** The dedup pair-index carrier, then riders of that index. */
  val sharedIndex: Seq[(String, String)] = Seq(
    "q27_dedup_minhash_lsh" -> "carrier", "q83_dup_sources" -> "rider",
    "q115_threshold_sweep" -> "rider", "q120_containment" -> "rider")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def ops(workload: String, spark: SparkSession, dataDir: String, outDir: String,
      cores: Int): Seq[Op] = {
    def query(name: String, role: String): Op = {
      val fn = SparkEntry.queries(name)
      Op(name, role, () => fn(spark, dataDir), noop, digest = true)
    }
    workload match {
      case "relational" => relational.map(query(_, "query"))
      case "shared_index" => sharedIndex.map { case (n, r) => query(n, r) }
      case "donations_csv" =>
        val donors = s"$dataDir/donors.csv"
        val donations = s"$dataDir/donations.csv"
        Seq(
          Op("by_state", "csv",
            () => Fidelity.donationTotalByState(
              CsvSource.donors(spark, donors), CsvSource.donations(spark, donations)),
            df => CsvSource.writeResultCsv(df.coalesce(1), "donor_state", "total",
              s"$outDir/by_state"),
            digest = false),
          Op("chunk_export", "csv",
            () => CsvSource.donations(spark, donations),
            df => {
              CsvSource.writeDonationChunks(df, cores, s"$outDir/donation_chunks")
              CsvSource.writeDonorChunks(CsvSource.donors(spark, donors), cores,
                s"$outDir/donor_chunks")
            },
            digest = false))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** Janino compile counters (process-wide, read around each operation). */
object Codegen {
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.metrics.source.CodegenMetrics

  def snapshot(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def since(s: (Long, Long)): String = {
    val (n, t) = snapshot()
    s""","compiles":${n - s._1},"compile_ms":${(t - s._2) / 1e6}"""
  }
}

/** Spark events of a traced run, kept in memory and written at exit. Jobs
  * carry their operation index (the job group) and phase; stages and tasks
  * reach an operation through their job.
  */
final class Recorder(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val phases = new ConcurrentLinkedQueue[String]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  @volatile private var markerJob = -1
  @volatile private var markerDone = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val stageNames = e.stageInfos.map(_.name)
      if (prop("spark.jobGroup.id").contains(Recorder.Marker)) markerJob = e.jobId
      jobs.add(s"""{"job":${e.jobId},"op":${prop("spark.jobGroup.id").map(Json.str).getOrElse("null")},""" +
        s""""phase":${prop("perfbench.phase").map(Json.str).getOrElse("null")},""" +
        s""""start_ms":${e.time},"stages":${e.stageIds.mkString("[", ",", "]")},""" +
        s""""schema":${stageNames.exists(_.startsWith("parquet at Tables.scala"))}}""")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.add(s"""{"job":${e.jobId},"end_ms":${e.time}}""")
      if (e.jobId == markerJob) markerDone = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = Option(tasks.get(s.stageId)).getOrElse(Array.fill(8)(0L))
      stages.add(s"""{"stage":${s.stageId},"tasks":${s.numTasks},""" +
        s""""submit_ms":${s.submissionTime.getOrElse(0L)},"end_ms":${s.completionTime.getOrElse(0L)},""" +
        s""""run_ms":${m(0)},"cpu_ns":${m(1)},"gc_ms":${m(2)},"input_bytes":${m(3)},""" +
        s""""output_bytes":${m(4)},"shuffle_write_bytes":${m(5)},"shuffle_read_bytes":${m(6)},""" +
        s""""spill_bytes":${m(7)}}""")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { t =>
      val m = tasks.computeIfAbsent(e.stageId, _ => Array.fill(8)(0L))
      m.synchronized {
        m(0) += t.executorRunTime; m(1) += t.executorCpuTime; m(2) += t.jvmGCTime
        m(3) += t.inputMetrics.bytesRead; m(4) += t.outputMetrics.bytesWritten
        m(5) += t.shuffleWriteMetrics.bytesWritten; m(6) += t.shuffleReadMetrics.totalBytesRead
        m(7) += t.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) phases.add(ph.map { case (k, v) => s"${Json.str(k)}:${v.durationMs}" }
        .mkString(s"""{"start_ms":${ph.values.map(_.startTimeMs).min},""", ",", "}"))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs a marker job and waits for its end event: the listener bus is
    * FIFO, so every event posted before it has been delivered.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(Recorder.Marker, Recorder.Marker)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 60e9.toLong
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
    require(markerDone, "listener bus did not deliver the marker job within 60 s")
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def json: String =
    s""""jobs":${jobs.asScala.mkString("[", ",", "]")},""" +
      s""""stages":${stages.asScala.mkString("[", ",", "]")},""" +
      s""""phases":${phases.asScala.mkString("[", ",", "]")}"""
}

object Recorder {
  val Marker = "perfbench-marker"
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
