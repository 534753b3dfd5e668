package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a `SparkSession` is built. Every main (Bench, Verify,
  * TimeOne, ExplainOne, the examples) and the test session share these
  * settings, so a plan, a timing and a test result all describe the same
  * configuration:
  *
  *   - `local[cpus]`, cpus from `SPARK_GRAFT_CPUS`, else the JVM's
  *     available processors;
  *   - shuffle partitions from `SPARK_GRAFT_SHUFFLE_PARTITIONS`, else
  *     cpus (fixtures at factor >= 100 want partitions ∝ data while the
  *     thread count stays at the core count);
  *   - UTC session time zone; `nanosAsLong` for the nanosecond
  *     timestamps in `events.parquet` (`Tables.events` truncates them);
  *     AQE on; UI off; the [[GraftExtensions]] functions registered.
  *
  * Mains that need more (a `local-cluster` master, a state-store
  * provider, checkpoint settings) add it on top of [[builder]]. */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def shufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.trim.toInt).getOrElse(cpus)

  /** The settings every session shares (the master aside). */
  def settings: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder().master(master).config(settings)

  /** A session on [[builder]]'s defaults, logging at `logLevel`. */
  def local(logLevel: String = "WARN"): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Timed run, the one Bench and TimeOne share: build `df` and write
    * every row of every projected column to the `noop` sink (no driver
    * collect, and unlike `.count()` Catalyst cannot prune the
    * projection), then drop every cache, so the next run does identical
    * work. Several pipelines cache intermediates; letting them pile up
    * across runs made later timings hostage to eviction thrash (2x
    * swings). Returns the wall seconds of build + write, or what the
    * run threw (any `Throwable`: a deep plan's StackOverflowError is a
    * failed row, not a dead bench). */
  def timed(spark: SparkSession)(df: => DataFrame): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val r =
      try {
        df.write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
    spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
    r
  }
}
