package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.SparkContext

/** `Profile.profile` on the shared session: one JSON line per query, a
  * failing query does not stop the run, the executed plan lands on disk,
  * and the listeners it adds are gone afterwards.
  */
class ProfileSpec extends GraftSuite {

  /** Every Spark and query-execution listener on the session (both
    * registries are Spark-private, hence the reflection).
    */
  private def listeners(): Seq[AnyRef] = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(spark.sparkContext)
    val sparkListeners = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
    val manager = spark.listenerManager
    val qeListeners = manager.getClass.getMethod("listListeners").invoke(manager)
      .asInstanceOf[Array[AnyRef]].toSeq
    sparkListeners ++ qeListeners
  }

  test("profile prints one line per query, survives a failure, writes the plan and removes its listeners") {
    val out = Files.createTempDirectory("graft_profile")
    spark.range(1).collect() // the session registers its own listeners lazily
    val before = listeners()
    val lines = Profile.profile(spark, sf, Seq("q00_not_registered", "q01_sum_by_group"), out)
    assert(lines.length === 2) // the failure comes first and the run goes on
    val Seq(failed, ok) = lines.map(new ObjectMapper().readTree(_))

    assert(failed.get("query").asText === "q00_not_registered")
    assert(failed.get("status").asText !== "ok")
    assert(failed.get("plan").isNull)

    assert(ok.get("query").asText === "q01_sum_by_group")
    assert(ok.get("status").asText === "ok")
    assert(ok.get("jobs").asInt >= 1)
    assert(ok.get("job_sum_s").asDouble >= 0.0)
    assert(ok.get("driver_gap_s").asDouble <= ok.get("wall_s").asDouble)
    val plan = out.resolve("q01.txt")
    assert(ok.get("plan").asText === plan.toString)
    assert(Files.readString(plan).contains("== Physical Plan =="))

    assert(!listeners().exists(_.getClass.getName.startsWith("graft.Profile")))
    // Spark creates the session's query-execution listener bus on the
    // first registration and keeps it; nothing else may stay behind
    val added = listeners().filterNot(before.contains)
    assert(added.forall(_.getClass.getName == "org.apache.spark.sql.util.ExecutionListenerBus"),
      added)
  }

  test("plan files are normalized: the same query profiles to the same bytes after another ran") {
    val Seq(first, second) = Seq("a", "b").map(d => Files.createTempDirectory(s"graft_profile_$d"))
    Profile.profile(spark, sf, Seq("q01_sum_by_group"), first)
    Profile.profile(spark, sf, Seq("q02_total_by_nation"), Files.createTempDirectory("graft_profile"))
    Profile.profile(spark, sf, Seq("q01_sum_by_group"), second)
    val Seq(a, b) = Seq(first, second).map(d => Files.readString(d.resolve("q01.txt")))
    assert(a === b)
    assert(Profile.normalize("[plan_id=41] x#7L, y#3, x#7L /w/d/t /w/dx [plan_id=9] " +
      "RDD[2484] [codegen id : 8] /tmp/graft_scratch1890329210866709267", "/w/d") ===
      "[plan_id=0] x#0L, y#1, x#0L ./t /w/dx [plan_id=1] RDD[0] [codegen id : 0] /tmp/graft_scratch0")
    // Catalyst's lambda names carry a JVM-wide counter; SQL lambda names do not
    assert(Profile.normalize("lambdafunction((lambda x_28#5 + lambda y_29#6), lambda x_28#5, " +
      "lambda y_29#6, false) transform(a#1, lambdafunction(lambda x_31#7, lambda x_31#7, " +
      "false)) lambda left#8", "/w/d") ===
      "lambdafunction((lambda x_0#0 + lambda y_1#1), lambda x_0#0, lambda y_1#1, false) " +
      "transform(a#2, lambdafunction(lambda x_2#3, lambda x_2#3, false)) lambda left#4")
  }
}
