package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** VERDICT r6 item 5: ext/ entry points cache intermediates; a library
  * must not leak executor storage across invocations. The contract:
  * [[Caches.releaseAll]] frees every intermediate the library
  * registered — after it, no persistent RDD this library created
  * remains. (Verify/Bench's clearCache() is the blunt equivalent;
  * releaseAll is what an embedding application calls.)
  */
class CacheHygieneSpec extends SparkSpec {

  private def persistentCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("releaseAll drops every intermediate cached by ext/ entry points") {
    spark.catalog.clearCache() // clean slate (other suites share the session)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(persistentCount == 0)

    val docs = Tables.documents(spark, sf())
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")

    // entry points spanning every tracked cache site: minhash (shingle
    // vectors + hashed), ANN (bucket rows), IVF/semdedup (assignCells),
    // tfidf (hashed tf), doc dedup (nearDupEdges sh + CC checkpoint)
    Similarity.minHashNearDups(docs).count()
    Similarity.annTopK(emb, Seq(0L, 1L), k = 5).count()
    Similarity.ivfTopK(emb, Seq(0L, 1L), k = 5, nCells = 0, nProbe = 0).count()
    Similarity.tfidf(docs).count()
    Dedup.canonicalDocs(docs).count()
    Dedup.semanticCanonical(emb, threshold = 0.9).count()

    assert(Caches.liveCount(spark) > 0, "entry points should have tracked caches")
    assert(persistentCount > 0, "entry points should have persisted intermediates")

    Caches.releaseAll(spark)
    // unpersist(blocking = false) completes asynchronously; the RDD is
    // deregistered from persistentRdds synchronously in Spark, but give
    // the listener bus a beat to be safe
    val deadline = System.nanoTime() + 10e9.toLong
    while (persistentCount > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(persistentCount == 0,
      s"persistent RDDs left after releaseAll: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.toString).mkString("; "))
    assert(Caches.liveCount(spark) == 0)
  }

  test("tracking more than 64 frames warns once per session; releaseAll re-arms") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // a session of its own: the registry is per session, so the shared
    // test session's tracked frames neither count nor get released.
    // Built first: starting Spark may reconfigure log4j, which would
    // drop an appender attached before it
    val s = spark.newSession()
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("caches-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("graft.ext.Caches").asInstanceOf[Logger]
    logger.addAppender(appender)
    def trackN(n: Int): Unit = (1 to n).foreach(_ => Caches.track(s.range(1).toDF()))
    try {
      trackN(64)
      assert(warnings.isEmpty, "64 tracked frames are within the threshold")
      trackN(1)
      assert(warnings.size == 1)
      assert(warnings.peek().contains("call Caches.releaseAll(spark)"))
      trackN(100)
      assert(warnings.size == 1, "the warning fires once per session")
      Caches.releaseAll(s)
      assert(Caches.liveCount(s) == 0)
      trackN(65)
      assert(warnings.size == 2, "releaseAll re-arms the warning")
    } finally {
      Caches.releaseAll(s)
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}
