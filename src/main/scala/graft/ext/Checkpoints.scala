package graft.ext

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage cuts for the iterative operators (connected components,
  * PageRank, label propagation, BPE merges, k-means residuals, the
  * corpus-build stage boundaries, fixture memos).
  *
  * Every multi-sweep self-join loop in this library must cut lineage
  * periodically or the plan snowballs (the CC/PageRank O(log n) rounds
  * would otherwise re-derive round 1 at round 12). Two ways to cut:
  *
  *   - `localCheckpoint` (the DEFAULT, `graft.checkpoint.dir` unset):
  *     blocks live in the executors' block managers. Fast — no
  *     filesystem round-trip — and exactly right on local[*] or when a
  *     lost executor is acceptable grounds for a job retry. The caveat
  *     at cluster scale: those blocks are NOT recoverable; an executor
  *     loss mid-job kills every computation whose lineage was truncated
  *     into it (Spark's own scaladoc warning).
  *
  *   - RELIABLE `checkpoint` (`graft.checkpoint.dir` set, e.g. an HDFS
  *     path): materialized files survive executor loss — the mode a
  *     1000-executor 100 TB run wants for hour-long iterative jobs,
  *     paying one write+read round-trip per cut. The reference embodies
  *     the same decision: samsa's entire changelog design
  *     (samsa/kafka/storage.py:151-184) exists to rebuild state after
  *     exactly this class of failure.
  *
  * The two modes produce IDENTICAL results (CheckpointModeSpec pins
  * PageRank + LSH-verified dedup bit-for-bit across the toggle) — the
  * config trades wall time for fault tolerance, never semantics.
  *
  * Set via `spark.conf.set("graft.checkpoint.dir", dir)` or submit-time
  * `--conf spark.graft.checkpoint.dir=dir` (both keys honored).
  * Housekeeping: reliable checkpoint files are NOT auto-deleted unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; long-lived
  * sessions should enable that or clean the directory between jobs.
  */
object Checkpoints {

  /** Set the SparkContext checkpoint dir at most once per (context,
    * configured dir): setCheckpointDir creates a fresh UUID child per
    * call, so calling it per-cut would scatter files and defeat the
    * cleaner. */
  private val applied =
    new java.util.concurrent.ConcurrentHashMap[(SparkContext, String), String]()

  private def configuredDir(spark: SparkSession): Option[String] = {
    val conf = spark.conf
    conf.getOption("graft.checkpoint.dir")
      .orElse(conf.getOption("spark.graft.checkpoint.dir"))
      .filter(_.nonEmpty)
  }

  /** The configured `graft.checkpoint.dir`, set as the SparkContext's
    * checkpoint dir on first use; None in local mode. */
  private def reliableDir(spark: SparkSession): Option[String] =
    configuredDir(spark).map { dir =>
      val sc = spark.sparkContext
      applied.computeIfAbsent((sc, dir), _ => { sc.setCheckpointDir(dir); dir })
    }

  /** A round of an iterative loop between two [[cut]]s: `df`'s rows
    * persisted as an RDD (MEMORY_AND_DISK), returned as a DataFrame
    * whose plan is one flat `LogicalRDD` leaf over that RDD.
    *
    * Unlike `Dataset.persist`, the returned plan does not nest `df`'s
    * plan inside an `InMemoryRelation`, which Catalyst re-analyzes and
    * AQE re-renders on every later round. Unlike `localCheckpoint`,
    * lineage is kept: a lost block recomputes from the previous rounds
    * back to the last cut.
    *
    * The round is lazy: AQE runs `df`'s shuffle stages here and leaves
    * the final stage to the first action on the result, so a consumer
    * that scans every partition fills this round's blocks in its own
    * job. Callers own the result's storage: free it with
    * [[Caches.hardUnpersist]] or track it for [[Caches.releaseAll]]. */
  def persistRound(df: DataFrame): DataFrame =
    org.apache.spark.sql.RddFrames.ofInternalRows(df, persistedRows(df))

  private def persistedRows(df: DataFrame) =
    df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)

  /** Cut `df`'s lineage: reliable `checkpoint` when
    * `graft.checkpoint.dir` is configured, `localCheckpoint` otherwise.
    * `eager = false` defers materialization to the first action (the
    * BPE merge-loop shape).
    *
    * A persist-before-checkpoint variant was tried and MEASURED WORSE
    * (r19, SCALE.md): Spark's checkpoint-write job mostly re-reads the
    * cut frame's existing shuffle output, so the "avoid computing
    * twice" persist only adds a second full write of the data through
    * the block manager — PageRank's 1000× reliable tax went +28→+30%,
    * CC +5→+25%, Borůvka +4.5→+194% (the persist evicted the MST kNN
    * session cache). Cuts stay plain `checkpoint`; what actually cut
    * the tax is [[pin]] below — most of PageRank's checkpoint bytes
    * were a loop-INVARIANT frame that never needed a lineage cut.
    *
    * Two companion knobs for the reliable mode, both measured in
    * SCALE.md r19: `spark.checkpoint.compress=true` (core conf — set it
    * at session build; lz4 on the checkpoint stream cuts the write
    * bytes) and `graft.checkpoint.stride` (how many iterative sweeps
    * run between in-loop cuts, default 4 — recovery recompute after an
    * executor loss is bounded by stride sweeps, while the per-cut bytes
    * are paid iters/stride times; see [[Graph.pageRank]]). */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (reliableDir(df.sparkSession).isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** [[cut]] for an RDD that the next job will compute: marks `rdd` for
    * a reliable `checkpoint` when `graft.checkpoint.dir` is configured
    * (written by a second job right after that one; persist `rdd` first
    * so the write reads its blocks), for a `localCheckpoint` otherwise
    * (taken in that job, no job of its own). Returns whether the cut is
    * reliable. */
  private[graft] def cutRdd(spark: SparkSession, rdd: RDD[_]): Boolean =
    if (reliableDir(spark).isDefined) { rdd.checkpoint(); true }
    else { rdd.localCheckpoint(); false }

  /** [[cut]] (eager) whose result forgets `df`'s statistics. A
    * checkpoint's `LogicalRDD` carries its origin's size estimate, so
    * a loop that self-joins its own cut frames (Borůvka's pick and
    * parent joins, the kNN fixture consumers) multiplies estimates
    * round over round until `sizeInBytes` overflows what stats
    * estimation supports and planning throws (MstSpec). Dropping the
    * origin stats resets the estimate to `spark.sql.defaultSizeInBytes`.
    * The result's plan root is still the checkpoint's own RDD, so
    * [[Caches.hardUnpersist]] on it frees the cut's blocks. */
  def cutWithoutStats(df: DataFrame): DataFrame =
    org.apache.spark.sql.RddFrames.withoutOriginStats(cut(df))

  /** Materialize a LOOP-INVARIANT frame once, WITHOUT cutting lineage
    * (r19, VERDICT r18 item 2): eager MEMORY_AND_DISK persist. The
    * distinction from [[cut]] is what executor loss means: a persisted
    * frame's lost blocks RECOMPUTE from lineage (its upstream is a
    * one-shot batch stage that still exists), so durability is free —
    * no checkpoint write in either mode. Only frames whose lineage
    * GROWS (the per-sweep rank/label/component frames of an iterative
    * loop) need [[cut]]; a loop-invariant input (PageRank's edge list,
    * PPR's seed base) materialized with `cut` was paying the full
    * reliable write-through for nothing — the 120M-edge frame was
    * ~1 GiB of PageRank's ~1 GiB checkpoint footprint and most of its
    * +28% reliable tax (SCALE.md r18 vs r19). The plan-depth cost of
    * keeping lineage is constant (the prologue appears once per sweep
    * plan, never compounds). */
  def pin(df: DataFrame): DataFrame = pinCounted(df)._1

  /** [[pin]] that also returns the row count its materializing action
    * learns — callers that need the count for a layout/strategy gate
    * (Graph.pinByKey) were re-counting the frame they just pinned. */
  def pinCounted(df: DataFrame): (DataFrame, Long) = {
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = df.count()
    (df, n)
  }

  /** Sweeps between in-loop lineage cuts for the iterative operators
    * (`graft.checkpoint.stride`, default 4). The k-choice law, measured
    * at 1000× in SCALE.md r19: total cut cost ∝ bytes-per-cut ×
    * iters/stride, while an executor-loss recovery in reliable mode
    * recomputes at most `stride` sweeps from the last cut — so larger
    * strides trade bounded extra recovery work for proportionally
    * cheaper steady-state wall. Plan/lineage depth between cuts grows
    * linearly in stride (multiplicative analysis cost per sweep), which
    * is why the default stays small. */
  def stride(df: DataFrame): Int =
    df.sparkSession.conf.getOption("graft.checkpoint.stride")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(4)

  /** `.cutLineage()` / `.cutLineageLazy()` postfix forms so operator
    * code keeps the chaining shape `.distinct().cutLineage()`. */
  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df, eager = true)
    def cutLineageLazy(): DataFrame = cut(df, eager = false)
  }
}
