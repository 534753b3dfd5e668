package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Invariants of the end-to-end corpus build (ext/CorpusBuild): each
  * stage is oracle-verified individually by its registry twin; this
  * suite checks the COMPOSITION — funnel monotonicity, survivor
  * uniqueness, packing bounds, and determinism of the whole chain. */
class CorpusBuildSpec extends SparkSpec {

  test("funnel is monotone, survivors unique, packing within budget") {
    val docs = Tables.documents(spark, sf())
    val (packed, r) = CorpusBuild.run(docs)
    val rows = packed.collect()
    Caches.releaseAll(spark)

    assert(r.nRaw == docs.count())
    assert(r.nRaw >= r.nQuality && r.nQuality >= r.nAfterSpanPolicy
      && r.nAfterSpanPolicy >= r.nExactCanonical
      && r.nExactCanonical >= r.nNearDupCanonical,
      s"non-monotone funnel: $r")
    assert(r.nNearDupCanonical == rows.length.toLong)
    // survivors unique, packing fields well-formed
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    val budget = CorpusBuild.Config().seqBudget
    rows.foreach { row =>
      val off = row.getAs[Long]("seq_offset")
      val n = row.getAs[Long]("n_tokens")
      assert(off >= 0 && off < budget, s"offset $off out of [0, $budget)")
      assert(n > 0 && row.getAs[String]("clean_text").nonEmpty, s"empty survivor: $row")
      assert(row.getAs[Boolean]("spans_boundary") == (off + n > budget))
    }
    // packing is the exclusive prefix sum over doc_id order: seq_id
    // nondecreasing when visiting survivors by doc_id
    val byId = rows.sortBy(_.getAs[Long]("doc_id"))
    val seqIds = byId.map(_.getAs[Long]("seq_id"))
    assert(seqIds.zip(seqIds.drop(1)).forall { case (a, b) => a <= b })

    // redundancy must be eliminated somewhere past the quality gate.
    // (On this fixture it is the SPAN stage that does it: near-dup
    // pairs share most of their text, so their coverage crosses the
    // drop threshold before doc-level dedup ever sees them.)
    assert(r.nNearDupCanonical < r.nQuality,
      s"no redundancy ever removed: $r")
  }

  test("with the span stage disabled, the doc-level dedup stages catch the near-dups") {
    val docs = Tables.documents(spark, sf())
    // minDf = MaxValue -> no gram is ever 'repeated' -> span stage is a
    // no-op -> the planted near-dup docs survive to stages 3/4 and must
    // collapse THERE
    val (_, r) = CorpusBuild.run(docs,
      CorpusBuild.Config(spanMinDf = Int.MaxValue))
    Caches.releaseAll(spark)
    assert(r.nAfterSpanPolicy == r.nQuality, s"span stage was not a no-op: $r")
    assert(r.nNearDupCanonical < r.nAfterSpanPolicy,
      s"dedup stages collapsed nothing: $r")
  }

  test("spanCoverageDrop > 1.0: fully-covered kept docs are restored with empty text, not silently dropped") {
    // ADVICE r8: with whole-doc drops disabled, a doc whose EVERY token
    // is corpus-repeated has no surviving tokens at the cut stage — it
    // must be restored with empty text (like the doc_span_cut registry
    // twin), not vanish and deflate nAfterSpanPolicy.
    import spark.implicits._
    val base = (0 until 20).map(i => s"tok$i").mkString(" ") // 20 distinct tokens, TTR 1.0
    val uniq = (0 until 20).map(i => s"u$i").mkString(" ")
    // doc 1 and 2 identical -> all their 8-grams have df 2 -> fully
    // covered; doc 3 unique -> untouched
    val docs = Seq((1L, base), (2L, base), (3L, uniq)).toDF("doc_id", "text")
    val (packed, r) = CorpusBuild.run(docs,
      CorpusBuild.Config(spanCoverageDrop = 2.0))
    val rows = packed.collect()
    Caches.releaseAll(spark)
    assert(r.nQuality == 3 && r.nAfterSpanPolicy == 3,
      s"span stage dropped a doc despite drop policy disabled: $r")
    // the two fully-covered docs collapse at EXACT dedup (both empty
    // text) -> 2 survivors total
    assert(r.nExactCanonical == 2, s"expected empty-text twins to collapse at stage 3: $r")
    val byId = rows.map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("clean_text")).toMap
    assert(byId(1L) == "" && byId(3L) == uniq, byId.toString)
  }

  test("the whole chain is deterministic across runs") {
    val docs = Tables.documents(spark, sf())
    def runOnce() = {
      val (packed, r) = CorpusBuild.run(docs)
      val out = packed.collect().map(_.toString).sorted.toSeq
      Caches.releaseAll(spark)
      (out, r)
    }
    val (a, ra) = runOnce()
    val (b, rb) = runOnce()
    assert(ra == rb)
    assert(a == b)
  }

  test("every job a build starts carries one of the five stage descriptions") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null)
          seen.add((e.properties.getProperty("spark.jobGroup.id"),
            e.properties.getProperty("spark.job.description")))
    }
    val docs = Tables.documents(spark, sf())
    sc.addSparkListener(listener)
    try {
      val ((group, after), n) = countingJobs {
        val g = sc.getLocalProperty("spark.jobGroup.id")
        CorpusBuild.run(docs)
        (g, sc.getLocalProperty("spark.job.description"))
      }
      Caches.releaseAll(spark)
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      val descs = seen.asScala.toSeq.filter(_._1 == group).map(_._2)
      assert(n > 0 && descs.size == n, s"$n jobs counted, ${descs.size} seen")
      // a library call inside a stage (connected components in stage 4)
      // nests its own description under the stage's: "<stage>: <call>"
      val stages = descs.map(_.split(": ", 2).head)
      val stray = stages.filterNot(CorpusBuild.StageDescriptions.contains)
      assert(stray.isEmpty, s"jobs outside a stage: ${stray.distinct}")
      assert(CorpusBuild.StageDescriptions.forall(stages.contains),
        s"stages without a job: ${CorpusBuild.StageDescriptions.diff(stages)}")
      assert(descs.exists(_.startsWith("corpus-build 4 near-dup dedup: connectedComponents round 1/")),
        "stage 4's connected components name their rounds")
      assert(after == "counted", "the caller's job description is restored")
    } finally sc.removeSparkListener(listener)
  }
}
