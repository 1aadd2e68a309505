package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Cache lifecycle for the engine's shared subplans (crosstabs, signature
 * tables). Catalyst has no cross-branch common-subexpression reuse, so
 * multi-consumer plans must be persisted explicitly — but a long-lived
 * session that persists per call would (a) spam `CacheManager: Asked to
 * cache already cached data` warnings and (b) accumulate storage entries
 * forever.
 *
 * `cacheOnce` consults the session CacheManager first (via the public
 * `Dataset.storageLevel`, which resolves by canonicalized plan): a plan
 * that is already cached — by an earlier query in the same session, or a
 * structurally-equal copy of it — is returned as-is. `clearAll` releases
 * everything at a session boundary (Verify/Bench call it on shutdown;
 * library users own their session's lifecycle).
 */
object Caches {

  // Thread-local scope stack for `scoped`: cacheOnce registers each plan
  // it NEWLY persisted (never one it found already cached), and pinPlan
  // each memo entry it NEWLY sealed, so the scope can release exactly its
  // own state on exit.
  private final class Scope {
    val caches = scala.collection.mutable.Buffer.empty[DataFrame]
    val pins = scala.collection.mutable.Buffer.empty[DataFrame]
  }
  private val scope = new ThreadLocal[Scope]

  /** Persist MEMORY_AND_DISK unless an equal plan is already cached. */
  def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      Option(scope.get()).foreach(_.caches += p)
      p
    } else df

  /** Run `body`, then release ONLY the caches `cacheOnce` created inside
    * it (on this thread), and drop the `pinPlan` seals made inside it:
    * their memo entries and their checkpoint blocks. The micro-batch
    * discipline for long-lived sessions: a streaming `foreachBatch` or a
    * store refresh must not leak per-batch state (every batch reads new
    * files, so nothing it pinned is ever reused), but `clearAll` would
    * also evict caches owned by concurrent serving queries on the same
    * session — `scoped` releases the batch's own handles and nothing
    * else. A frame sealed inside the scope must not be used after it:
    * its checkpoint blocks are gone. Nests: an inner scope releases its
    * state and restores the outer scope's tracking.
    *
    * CONTRACT: tracking is THREAD-CONFINED (a plain ThreadLocal, and the
    * buffer itself is not thread-safe) — every `cacheOnce` that should be
    * released by this scope must run on the calling thread. A `cacheOnce`
    * issued from a thread spawned inside `body` escapes the scope and
    * lives until `clearAll`. All streaming call sites (`foreachBatch`
    * bodies) are single-threaded today; a future parallel batch must
    * either scope per worker thread or release its caches explicitly. */
  def scoped[T](body: => T): T = {
    val prev = scope.get()
    val mine = new Scope
    scope.set(mine)
    try body
    finally {
      scope.set(prev)
      mine.pins.foreach(unpin)
      mine.caches.foreach(release)
    }
  }

  // pinPlan memo: (canonicalized logical plan → sealed frame) per
  // session, weakly keyed so a stopped session's entries are collectable.
  // A localCheckpoint mints a NEW leaf RDD per call, so without the memo
  // each re-invocation of the same pipeline (bench reps, the q238/q239
  // pair) re-materializes the checkpoint AND gives downstream cacheOnce
  // consumers a fresh plan identity — every cache keyed past the seal
  // missed across reps (measured: q232's tier caches rebuilt per rep).
  private val pins = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Buffer[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]]()

  /** Cache a shared frame AND seal its lineage behind a leaf scan (the
    * StoreBuild "pinPlan" move, public since r13): `cacheOnce` pins the
    * DATA, but every consumer's logical plan still embeds the full
    * producing subtree — and nested InMemoryRelations PRINT their cached
    * plans recursively, so a pipeline of stacked caches (the CCNet
    * funnel: extraction → struck corpus → flags → tiers) makes each
    * action's analysis AND its SQL-listener plan string grow
    * multiplicatively (measured: q232's explainString alone overflowed
    * an 8 GB heap). The lazy local checkpoint truncates the plan to the
    * materialized partitions; values are identical, and a lost executor
    * recomputes from the surviving cached parent. Non-reliable tier is
    * deliberate — durability is a store writer's job, not a query's.
    *
    * Memoized by canonicalized plan (the cacheOnce equality rule, same
    * staleness semantics): a structurally-equal re-invocation gets the
    * SAME sealed frame back, so its consumers' plans stay cache-stable.
    * `clearAll` drops the memo with the session's caches. */
  def pinPlan(df: DataFrame): DataFrame = synchronized {
    val sess = df.sparkSession
    val buf = pins.computeIfAbsent(sess,
      _ => scala.collection.mutable.Buffer.empty)
    val canon = df.queryExecution.analyzed.canonicalized
    buf.find(_._1 == canon) match {
      case Some((_, pinned)) => pinned
      case None =>
        val pinned = cacheOnce(df).localCheckpoint(eager = false)
        buf += ((canon, pinned))
        Option(scope.get()).foreach(_.pins += pinned)
        pinned
    }
  }

  /** Forget one pinPlan seal and drop its checkpoint blocks. */
  private def unpin(pinned: DataFrame): Unit = synchronized {
    Option(pins.get(pinned.sparkSession)).foreach { buf =>
      val i = buf.indexWhere(_._2 eq pinned)
      if (i >= 0) buf.remove(i)
    }
    pinned.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Release one cached plan (no-op if it is not cached). Library users
    * embedding a single pipeline in a long-lived session can release its
    * shared subplans eagerly instead of waiting for `clearAll` at the
    * session boundary. */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) { df.unpersist(); () }

  /** Drop every cached plan in the session (`spark.catalog.clearCache`)
    * and the session's pinPlan memo. */
  def clearAll(spark: SparkSession): Unit = synchronized {
    pins.remove(spark)
    spark.catalog.clearCache()
  }
}
