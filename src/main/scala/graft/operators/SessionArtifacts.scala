package graft.operators

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, ExecutionException}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The one registry of session-scoped intermediates — pair indexes,
  * trained models, persisted feature frames — that many queries of a
  * session share: the first consumer builds, the rest reuse (SAMUEL's
  * shared sub-work across MapReduce queries, at session scope).
  *
  * Key: a typed [[Kind]] (each kind owns its store, so a hit can never be
  * read back as another kind's value type), the input's `SparkSession`
  * compared by reference (checkpointed RDDs die with their session, so an
  * entry must never cross sessions), the input's canonicalized analyzed
  * plan compared by EQUALITY, and the caller's parameters. Canonicalization
  * normalizes expression ids, so two independent loads of one source share
  * an entry; equality compares the full tree — including `LocalRelation`
  * rows and the fields of nodes wider than `maxToStringFields`, which a
  * plan's string form elides — so semantically different inputs never do.
  *
  * Build once per key: the first caller installs a future and builds
  * outside any lock; concurrent callers of that key wait on the future,
  * while builds of other keys — of any kind, nested builds included — run
  * in parallel. A build that throws is not cached, and its waiters rethrow
  * the same exception.
  *
  * Eviction: each kind keeps its newest `Cap` entries, in insertion order.
  * Eviction and [[clearAll]] drop the REFERENCE only. A localCheckpointed
  * frame has no lineage to recompute from, so eagerly unpersisting it would
  * turn the next action of a consumer still holding it into a hard
  * "checkpoint block not found" failure; Spark's ContextCleaner reclaims
  * the blocks once the frame is garbage-collected, so the cap still bounds
  * LIVE cache memory. The exception is a frame the CacheManager holds
  * (`persist()`, lineage intact): it is unpersisted non-blocking, and a
  * consumer still holding it recomputes — a miss, never a failure.
  */
private[graft] object SessionArtifacts {
  private val Cap = 8

  private val kinds = new ConcurrentLinkedQueue[Kind[_]]()

  private final case class Key(session: SparkSession, plan: LogicalPlan, params: Seq[Any])

  /** One artifact kind, holding values of type `V`. */
  final class Kind[V] {
    private[SessionArtifacts] val entries =
      new java.util.LinkedHashMap[Key, CompletableFuture[V]]()
    kinds.add(this)
  }

  /** The `kind` artifact of (`input`'s session and plan, `params`), built
    * by `build` on the first call.
    */
  def getOrBuild[V](kind: Kind[V], input: DataFrame, params: Any*)(build: => V): V = {
    val key = Key(input.sparkSession, input.queryExecution.analyzed.canonicalized, params)
    val mine = new CompletableFuture[V]()
    val (entry, evicted) = kind.entries.synchronized {
      val prior = kind.entries.putIfAbsent(key, mine)
      if (prior != null) (prior, None)
      else if (kind.entries.size > Cap) {
        val it = kind.entries.values.iterator
        val eldest = it.next()
        it.remove()
        (mine, Some(eldest))
      } else (mine, None)
    }
    evicted.foreach(release)
    if (entry ne mine)
      try entry.get() catch { case e: ExecutionException => throw e.getCause }
    else
      try { val v = build; mine.complete(v); v }
      catch { case t: Throwable =>
        kind.entries.synchronized(kind.entries.remove(key, mine))
        mine.completeExceptionally(t)
        throw t
      }
  }

  /** Drop every entry of every kind (the bench isolation reset). */
  def clearAll(): Unit = kinds.forEach(k => clear(k))

  private def clear[V](kind: Kind[V]): Unit = {
    val dropped = kind.entries.synchronized {
      val all = new java.util.ArrayList(kind.entries.values)
      kind.entries.clear()
      all
    }
    dropped.forEach(e => release(e))
  }

  /** Once the value exists: unpersist it if the CacheManager holds it. */
  private def release[V](entry: CompletableFuture[V]): Unit =
    entry.thenAccept { (v: V) =>
      v match {
        case df: Dataset[_] =>
          try if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
          catch { case _: Throwable => () } // best-effort; the session may be gone
        case _ => ()
      }
    }
}
