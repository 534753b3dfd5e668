package graft.ext

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry of the intermediates that `ext/` entry
  * points cache (VERDICT r6 item 5: `cache()` without `unpersist` in a
  * LIBRARY accumulates executor storage across invocations — Bench and
  * Verify compensated with `spark.catalog.clearCache()`, but that nukes
  * every cache in the session, including the caller's own).
  *
  * The caller contract, documented on each entry point that caches:
  * when you are done consuming the RETURNED DataFrames of `ext/` calls,
  * call `Caches.releaseAll(spark)` — it unpersists only the
  * intermediates this library registered, not your caches. Re-using a
  * returned frame AFTER release recomputes it (normal lazy semantics) —
  * except connected-components results, which read their last round's
  * persisted or locally checkpointed blocks and are single-lifecycle:
  * consume, release, rebuild if needed again.
  *
  * References are STRONG on purpose: the cached data lives in the
  * executors' block managers regardless of driver-side Dataset
  * reachability, so a weak registry would silently lose its only
  * handle on a GC and re-leak. The registry itself is bounded by
  * releaseAll calls (a handful of Dataset objects between releases).
  */
object Caches {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ext.Caches")

  /** Past this many tracked intermediates on one session, a consumer has
    * almost certainly never called [[releaseAll]] — warn once per
    * session so silent non-adoption of the release contract is visible
    * (ADVICE r7: the leak otherwise just moves from unpersisted caches
    * to an unbounded registry). */
  private val warnThreshold = 64

  /** Per session, one release action per tracked intermediate. */
  private val reg =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[() => Unit]]()
  private val warned =
    new ConcurrentHashMap[SparkSession, java.lang.Boolean]()

  /** Register a frame the library just persisted. Returns it. */
  private[graft] def track(df: DataFrame): DataFrame = {
    register(df.sparkSession, () => hardUnpersist(df))
    df
  }

  /** Register an RDD the library just persisted on `spark`'s context
    * (connected components' last round). Returns it. */
  private[graft] def track[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    register(spark, () => rdd.unpersist(blocking = false))
    rdd
  }

  private def register(spark: SparkSession, release: () => Unit): Unit = {
    val q = reg.computeIfAbsent(spark,
      _ => new ConcurrentLinkedQueue[() => Unit]())
    q.add(release)
    if (q.size() > warnThreshold &&
        warned.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      log.warn(s"graft.ext.Caches is tracking > $warnThreshold persisted " +
        "intermediates on one SparkSession — call Caches.releaseAll(spark) " +
        "between pipeline invocations or executor storage will accumulate")
  }

  /** Unpersist a frame through BOTH storage paths: the CacheManager
    * entry (`cache`/`persist`) AND the checkpoint or
    * `Checkpoints.persistRound` RDD that BACKS it. `Dataset.unpersist` alone is a silent no-op for
    * checkpoint-backed frames — their persistence is RDD-level
    * (`LogicalRDD`), not a CacheManager entry; that asymmetry is how
    * the CC sweep loop leaked one checkpoint RDD per iteration.
    *
    * The backing RDD is freed ONLY when the plan root IS the
    * `LogicalRDD` (under an alias) — i.e. the tracked frame is itself
    * the checkpoint the library created. Unwrapping `Project` here
    * (the r10 form) reached through thin projections like CC's
    * `edges.select(a, b).persist()` and unpersisted the CALLER's
    * checkpointed input — a second CC run on the same checkpointed
    * edge frame then failed with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    * (caught by cc_scale rep 2, regression-tested in DedupSpec). A
    * projection-wrapped frame frees its CacheManager entry only; the
    * wrapped checkpoint's lifecycle belongs to whoever created it. */
  private[graft] def hardUnpersist(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
    @scala.annotation.tailrec
    def backing(p: LogicalPlan): Unit = p match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case sa: SubqueryAlias => backing(sa.child)
      case _ => ()
    }
    backing(df.queryExecution.logical)
  }

  /** Unpersist every intermediate `ext/` entry points have cached on
    * this session since the last release. Non-blocking. */
  def releaseAll(spark: SparkSession): Unit = {
    warned.remove(spark)
    val q = reg.remove(spark)
    if (q != null) {
      var release = q.poll()
      while (release != null) {
        release()
        release = q.poll()
      }
    }
  }

  /** Number of tracked intermediates (test hook). */
  private[graft] def liveCount(spark: SparkSession): Int = {
    val q = reg.get(spark)
    if (q == null) 0 else q.size()
  }
}
