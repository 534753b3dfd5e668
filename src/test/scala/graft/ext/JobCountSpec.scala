package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import graft.api.{StateStores, StoreType}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Spark jobs per call of the iterative operators, pinned. These loops
  * are bound by per-job scheduling and planning, not by data, so a
  * change that adds a job per round or sweep is a regression even when
  * the results stay right. Counted on fixed small graphs with the
  * suite's session (local[4], 4 shuffle partitions); a pin that moves
  * must be re-measured and its old and new values recorded. */
class JobCountSpec extends SparkSpec {

  /** 50 paths of 16 nodes and 20 stars of 8 leaves: four star rounds,
    * so at the default stride 4 the fourth round is a cut round. */
  private def forest: DataFrame = {
    import spark.implicits._
    val paths = for (p <- 0L until 50L; i <- 0L until 15L)
      yield (p * 16 + i, p * 16 + i + 1)
    val stars = for (s <- 0L until 20L; l <- 1L to 8L)
      yield (1000L + s * 9, 1000L + s * 9 + l)
    (paths ++ stars).toDF("doc_a", "doc_b")
  }

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def ccJobs(): (Int, Int) = {
    val (rounds, jobs) = countingJobs {
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(forest)
      noopWrite(labels)
      rounds
    }
    Caches.releaseAll(spark)
    (rounds, jobs)
  }

  // one job per round, plus the labels' write; a reliable cut adds its
  // checkpoint write. The DataFrame rounds with AQE ran 31 and 25
  test("CC at the default stride: jobs per call in local mode") {
    val (rounds, jobs) = ccJobs()
    assert(rounds == 4, s"the forest took $rounds star rounds, expected 4")
    assert(jobs == 5, s"connectedComponents ran $jobs jobs, pinned 5")
  }

  test("CC at the default stride: jobs per call in reliable mode") {
    val dir = Files.createTempDirectory("graft-jobcount-ckpt").toFile
    spark.conf.set("graft.checkpoint.dir", dir.toString)
    val (rounds, jobs) = try ccJobs()
                         finally spark.conf.unset("graft.checkpoint.dir")
    assert(rounds == 4, s"the forest took $rounds star rounds, expected 4")
    assert(jobs == 6, s"connectedComponents ran $jobs jobs, pinned 6")
  }

  test("every job a CC call starts names its round, and the caller's description returns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null)
          seen.add((e.properties.getProperty("spark.jobGroup.id"),
            e.properties.getProperty("spark.job.description")))
    }
    val dir = Files.createTempDirectory("graft-jobcount-ckpt").toFile
    sc.addSparkListener(listener)
    try for (reliable <- Seq(false, true)) {
      seen.clear()
      if (reliable) spark.conf.set("graft.checkpoint.dir", dir.toString)
      val ((group, rounds, after), jobs) = try countingJobs {
        val (_, rounds) = Dedup.connectedComponentsWithRounds(forest)
        (sc.getLocalProperty("spark.jobGroup.id"), rounds,
          sc.getLocalProperty("spark.job.description"))
      } finally spark.conf.unset("graft.checkpoint.dir")
      Caches.releaseAll(spark)
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      val descs = seen.asScala.toSeq.filter(_._1 == group).map(_._2)
      assert(jobs > 0 && descs.size == jobs, s"$jobs jobs counted, ${descs.size} seen")
      // countingJobs describes its group "counted": CC nests under it
      val round = """counted: connectedComponents round (\d+)/50( reliable cut)?""".r
      val named = descs.collect { case round(r, cut) => (r.toInt, cut != null) }
      assert(named.size == descs.size, s"jobs without a round: ${descs.filterNot(round.matches)}")
      assert(named.map(_._1).distinct.sorted == (1 to rounds),
        s"rounds ${named.map(_._1).distinct.sorted}, expected 1 to $rounds")
      assert(named.exists(_._2) == reliable,
        s"reliable = $reliable, but jobs ${descs.mkString("; ")}")
      assert(after == "counted", "the caller's job description is restored")
    } finally sc.removeSparkListener(listener)
  }

  private def ring: DataFrame = {
    import spark.implicits._
    (0L until 200L).flatMap(i => Seq((i, (i + 1) % 200), (i, (i * 7 + 3) % 200)))
      .toDF("src", "dst")
  }

  // both loops pin their edge list in the caller's frame: unpersist it,
  // so no later call reads a cache this one filled
  test("one PageRank sweep: jobs per call") {
    val edges = ring
    val (_, jobs) = try countingJobs(noopWrite(Graph.pageRank(edges, iters = 1)))
    finally edges.unpersist()
    assert(jobs == 12, s"one PageRank sweep ran $jobs jobs, pinned 12")
  }

  test("one label-propagation sweep: jobs per call") {
    val edges = ring.select(col("src").as("a"), col("dst").as("b"))
    val nodes = spark.range(200).select(col("id").as("node"))
    val (_, jobs) = try countingJobs(noopWrite(Graph.labelPropagation(nodes, edges, iters = 1)))
    finally edges.unpersist()
    assert(jobs == 8, s"one label-propagation sweep ran $jobs jobs, pinned 8")
  }

  for (k <- Seq(1, 3, 8))
    test(s"a point lookup runs no Spark job: K=$k") {
      val keys = (0 until 30).map(i => s"k$i")
      val (stream, ckpt) = StateStores.build(spark, StoreType.RocksDB, k,
        Seq(keys.map(key => StateStores.rec(key, s"v-$key", 1000))))
      val (got, jobs) = countingJobs(stream.query(spark, ckpt, "k7"))
      assert(got == Some("v-k7"))
      assert(jobs == 0, s"one lookup ran $jobs jobs, pinned 0")
    }
}
