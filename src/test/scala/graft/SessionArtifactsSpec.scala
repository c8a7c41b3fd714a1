package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.SessionArtifacts

/** The registry contract the operator caches rely on: failures are not
  * cached, builds of distinct keys overlap, nested builds complete, and
  * the per-kind cap evicts in insertion order.
  */
class SessionArtifactsSpec extends GraftSuite {

  private lazy val input = spark.range(1).toDF("id")

  test("a failed build is not cached: the next call rebuilds, a concurrent waiter gets the failure") {
    val kind = new SessionArtifacts.Kind[Int]
    val builds = new AtomicInteger
    val boom = new IllegalStateException("boom")
    @volatile var waiterSaw: Either[Throwable, Int] = null
    val waiter = new Thread(() => {
      waiterSaw =
        try Right(SessionArtifacts.getOrBuild(kind, input)(-1))
        catch { case t: Throwable => Left(t) }
    })
    def parkedOnTheBuild: Boolean =
      waiter.getState == Thread.State.WAITING &&
        waiter.getStackTrace.exists(_.getClassName == classOf[CompletableFuture[_]].getName)
    val thrown = intercept[IllegalStateException] {
      SessionArtifacts.getOrBuild(kind, input) {
        builds.incrementAndGet()
        waiter.start()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!parkedOnTheBuild && System.nanoTime() < deadline) Thread.sleep(5)
        assert(parkedOnTheBuild, "the second caller never waited on the in-flight build")
        throw boom
      }
    }
    waiter.join(30000)
    assert(thrown eq boom)
    assert(waiterSaw != null && waiterSaw.left.toOption.exists(_ eq boom),
      s"the waiter must rethrow the builder's exception, saw $waiterSaw")
    assert(SessionArtifacts.getOrBuild(kind, input) { builds.incrementAndGet(); 7 } === 7)
    assert(builds.get === 2, "the failed build must not have been cached")
    assert(SessionArtifacts.getOrBuild(kind, input)(-1) === 7)
  }

  test("two keys of one kind build concurrently: no lock is held across a build") {
    val kind = new SessionArtifacts.Kind[String]
    val aIn, bIn = new CountDownLatch(1)
    // each build releases its own latch and waits for the OTHER build's:
    // a lock held across builds serializes them, and the wait times out
    def build(mine: CountDownLatch, other: CountDownLatch, v: String): String = {
      mine.countDown()
      assert(other.await(20, TimeUnit.SECONDS), "builds of distinct keys were serialized")
      v
    }
    val a = Future(SessionArtifacts.getOrBuild(kind, input, "a")(build(aIn, bIn, "A")))
    val b = Future(SessionArtifacts.getOrBuild(kind, input, "b")(build(bIn, aIn, "B")))
    assert(Await.result(a, 60.seconds) === "A")
    assert(Await.result(b, 60.seconds) === "B")
  }

  test("a build that reads another artifact of the same kind completes") {
    val kind = new SessionArtifacts.Kind[Int]
    // bounded wait: a deadlocked registry fails the test instead of hanging it
    val v = Await.result(Future(SessionArtifacts.getOrBuild(kind, input, "outer")(
      SessionArtifacts.getOrBuild(kind, input, "inner")(20) + 1)), 60.seconds)
    assert(v === 21)
    assert(SessionArtifacts.getOrBuild(kind, input, "inner")(-1) === 20)
  }

  test("the cap evicts the oldest entry; persisted values are unpersisted on eviction and clearAll") {
    val kind = new SessionArtifacts.Kind[DataFrame]
    val builds = new AtomicInteger
    def get(i: Int): DataFrame = SessionArtifacts.getOrBuild(kind, input, i) {
      builds.incrementAndGet()
      spark.range(7000 + i).toDF("id").persist()
    }
    val oldest = get(0)
    assert(oldest.storageLevel != StorageLevel.NONE)
    (1 to 8).foreach(get) // the ninth entry: key 0 is evicted
    assert(builds.get === 9)
    assert(oldest.storageLevel === StorageLevel.NONE, "an evicted persisted value must be unpersisted")
    val newest = get(8)
    assert(builds.get === 9, "the newest entry must still be cached")
    assert(!(get(0) eq oldest))
    assert(builds.get === 10, "the evicted key must rebuild")
    assert(newest.storageLevel != StorageLevel.NONE)
    SessionArtifacts.clearAll()
    assert(newest.storageLevel === StorageLevel.NONE, "clearAll must unpersist persisted values")
    get(8)
    assert(builds.get === 11, "clearAll must drop every entry")
    SessionArtifacts.clearAll()
  }

  test("drift guard: no hand-rolled session cache outside SessionArtifacts") {
    // one clearAll() is complete only while every session cache lives in
    // the registry: an insertion-ordered eviction map or a session key
    // built from identityHashCode elsewhere is a cache clearAll misses
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"${src.toAbsolutePath} not found")
    val offenders = Files.walk(src).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SessionArtifacts.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("removeEldestEntry") ||
              line.contains("identityHashCode(") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
