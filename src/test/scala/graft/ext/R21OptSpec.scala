package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame

/** Round-21 optimization pins: each test freezes the SEMANTICS of an
  * internals change this round made for performance, so a later round
  * can refactor the fast path without silently changing results.
  */
class R21OptSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("parquetRowCount: footer count equals a full count(*) job") {
    for (t <- Seq("lineitem", "orders", "documents", "part"))
      assert(Tables.parquetRowCount(spark, sf(), t)
        == Tables.load(spark, sf(), t).count(),
        s"footer count must be exact for $t")
  }

  test("parquetRowCount: multi-file directory tables sum across footers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prc").toString
    spark.range(1000).repartition(7).write.parquet(s"$dir/t.parquet")
    assert(Tables.parquetRowCount(spark, dir, "t") == 1000L)
  }

  test("CorpusBuild.runReport equals run()._2 and n_packed identity holds") {
    val docs = Tables.documents(spark, sf())
    val report = CorpusBuild.runReport(docs)
    Caches.releaseAll(spark)
    val (packed, report2) = CorpusBuild.run(docs)
    val nPacked = packed.count()
    Caches.releaseAll(spark)
    assert(report == report2, "runReport must equal run()._2")
    assert(nPacked == report.nNearDupCanonical,
      "packing must never drop a doc — the identity the registry row's " +
        "n_packed = n_neardup shortcut rests on")
  }

  test("lshVerifiedNonCanonical: knownDocCount is a pure job-elision (same rows)") {
    val docs = Tables.documents(spark, sf())
    val n = docs.count()
    val a = sorted(Dedup.lshVerifiedNonCanonical(docs))
    Caches.releaseAll(spark)
    val b = sorted(Dedup.lshVerifiedNonCanonical(docs, knownDocCount = n))
    Caches.releaseAll(spark)
    assert(a == b, "threading the known count must not change results")
  }

  test("repeatedSpans: xxhash64 gram keys leave spans identical to string keys") {
    import spark.implicits._
    // the r20-and-earlier semantics, inlined with STRING gram keys —
    // a planted corpus with a shared 8-gram run and a unique tail
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$boiler iota kappa lambda mu nu xi omicron pi"),
      (3L, "entirely unique text with no repeated grams at all here ok")
    ).toDF("doc_id", "text")
    val got = sorted(Dedup.repeatedSpans(docs, k = 8, minDf = 2))
    // expectation: docs 1 and 2 share exactly the 10-token boilerplate
    // prefix -> grams at pos 0..2 (k=8) -> merged span [0, 9]
    assert(got == Seq("[1,0,9,10]", "[2,0,9,10]"),
      s"hashed gram keys must reproduce the string-keyed spans, got $got")
  }

  test("Bpe: reliable-mode stride cuts are value-neutral and write fewer files") {
    val docs = Tables.documents(spark, sf())
    val local = Bpe.train(docs, nMerges = 6)
    Caches.releaseAll(spark)
    def reliableAt(stride: String): (Seq[(Int, String, String, Long)], Int) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bpe-ckpt").toFile
      spark.conf.set("graft.checkpoint.dir", dir.toString)
      spark.conf.set("graft.checkpoint.stride", stride)
      try {
        val m = Bpe.train(docs, nMerges = 6)._1
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.startsWith("part-")) 1 else 0
        (m, walk(dir))
      } finally {
        spark.conf.unset("graft.checkpoint.dir")
        spark.conf.unset("graft.checkpoint.stride")
        Caches.releaseAll(spark)
      }
    }
    val (m1, files1) = reliableAt("1")
    val (m3, files3) = reliableAt("3")
    assert(m1 == local._1 && m3 == local._1,
      "stride must never change the learned merges")
    assert(files1 > files3,
      s"stride 3 must write fewer checkpoint files than stride 1 " +
        s"($files3 vs $files1)")
  }

  test("TextSpans.cutSpans equals the explode/anti-join/listagg form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted docs: no spans; head span; fully covered; mid span;
    // adjacent spans already merged; leading-whitespace empty token
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x y z w v"),
      (3L, "p q"),
      (4L, " lead tok tail")
    ).toDF("doc_id", "text")
    val spans = Seq(
      (2L, 0L, 1L), (2L, 3L, 3L),
      (3L, 0L, 1L),
      (4L, 1L, 1L)
    ).toDF("doc_id", "span_start", "span_end")
    val toks = split(col("text"), "\\s+")
    // reference: the pre-r21 shape, inlined
    val tok = docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "t")))
    val kept = tok.join(spans,
      tok("doc_id") === spans("doc_id") &&
        tok("pos").between(col("span_start"), col("span_end")), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(expr("listagg(t, ' ') WITHIN GROUP (ORDER BY pos)").as("ct"),
        count(lit(1)).as("nk"))
    val ref = docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("ct"), lit("")).as("ct"),
        coalesce(col("nk"), lit(0L)).as("nk"))
      .collect().map(_.toString).sorted.toSeq
    // the r21 map-only form
    val spanArr = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    var got = Seq.empty[String]
    val logged = graft.LogCapture("org.apache.spark.sql.catalyst.expressions.codegen") {
      got = docs.select(col("doc_id"), toks.as("arr"))
        .join(spanArr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          graft.functions.TextSpans.cutSpans(col("arr"), col("sp")).as("c"))
        .select(col("doc_id"), col("c.clean_text"), col("c.n_tokens_kept"))
        .collect().map(_.toString).sorted.toSeq
    }
    assert(got == ref, s"cutSpans must equal the listagg form:\n$got\nvs\n$ref")
    val errors = logged.filter(_._1 == org.apache.logging.log4j.Level.ERROR)
    assert(errors.isEmpty, s"whole-stage codegen failed to compile: ${errors.map(_._2).take(1)}")
  }

  test("ext_entity_components_reliable: twin row, identical rows, conf restored") {
    val local = graft.SparkEntry.defs
      .find(_.name == "ext_entity_components").get
    val reliable = graft.SparkEntry.defs
      .find(_.name == "ext_entity_components_reliable").get
    val a = sorted(local.run(spark, sf()))
    Caches.releaseAll(spark)
    val b = sorted(reliable.run(spark, sf()))
    Caches.releaseAll(spark)
    assert(a == b, "the reliable probe row must match its local twin")
    assert(spark.conf.getOption("graft.checkpoint.dir").isEmpty,
      "the probe must restore (unset) graft.checkpoint.dir")
    assert(local.oracle == reliable.oracle && local.oracle.isDefined,
      "twin rows must share one oracle SQL")
  }
}
