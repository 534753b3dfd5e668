package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {

  private def synthetic(n: Int) = {
    GraftFunctions.ensureRegistered(spark)
    // deterministic pseudo-random 64-dim float vectors from the row id
    spark.range(n).selectExpr(
      "id",
      """transform(sequence(0, 63),
        |  j -> cast(sin(id * 131071 + j * 524287) as float)) AS v1""".stripMargin,
      """transform(sequence(0, 63),
        |  j -> cast(cos(id * 8191 + j * 127) as float)) AS v2""".stripMargin)
      .cache()
  }

  test("native expression matches the HOF fold bit-for-bit") {
    val df = synthetic(5000)
    val hof = df.withColumn("c", expr(
      """aggregate(zip_with(v1, v2, (x, y) -> cast(x as double) * cast(y as double)),
        |  cast(0.0 as double), (a, b) -> a + b)
        |/ (sqrt(aggregate(transform(v1, x -> cast(x as double) * cast(x as double)), cast(0.0 as double), (a, b) -> a + b))
        | * sqrt(aggregate(transform(v2, x -> cast(x as double) * cast(x as double)), cast(0.0 as double), (a, b) -> a + b)))""".stripMargin))
    val native = df.withColumn("c", expr("cosine_sim(v1, v2)"))
    val h = hof.select("id", "c").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = native.select("id", "c").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h.size == n.size)
    h.foreach { case (k, v) => assert(v == n(k), s"id=$k hof=$v native=${n(k)}") }
  }

  test("interpreted eval (codegen off) matches codegen path") {
    val df = synthetic(500)
    val on = df.selectExpr("cosine_sim(v1, v2) AS c").collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = df.selectExpr("cosine_sim(v1, v2) AS c").collect().map(_.getDouble(0))
      assert(on.toSeq == off.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SparkSessionExtensions injection registers cosine_sim") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // newSession shares extensions; verify resolution through SQL
    val r = s2.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS c").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("ensureRegistered on a registered session logs no registry WARN") {
    GraftFunctions.ensureRegistered(spark)
    val logged = graft.LogCapture("org.apache.spark.sql.catalyst.analysis") {
      GraftFunctions.ensureRegistered(spark)
    }
    val warns = logged.filter(_._1 == org.apache.logging.log4j.Level.WARN)
    assert(warns.isEmpty, s"re-registration warned: ${warns.map(_._2)}")
  }

  test("null inputs yield null, mismatched type fails analysis") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql("SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(cast(1.0 as float)))")
      .head()
    assert(r.isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1), array(cast(1.0 as float)))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_sim") ||
      err.getMessage.toLowerCase.contains("data type"))
  }

  test("null elements and length mismatch yield null (zip_with parity), both eval paths") {
    GraftFunctions.ensureRegistered(spark)
    // ADVICE r3: these used to silently truncate / read garbage
    val cases = Seq(
      "cosine_sim(array(cast(1.0 as float), cast(null as float)), array(cast(1.0 as float), cast(2.0 as float)))",
      "cosine_sim(array(cast(1.0 as float)), array(cast(1.0 as float), cast(2.0 as float)))")
    Seq("true", "false").foreach { cg =>
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      try cases.foreach { c =>
        assert(spark.sql(s"SELECT $c").head().isNullAt(0), s"$c (codegen=$cg)")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("native is not slower than the HOF fold (usually ~3-10x faster)") {
    val df = synthetic(200000)
    df.count() // materialize cache
    def time(q: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val hofQ = df.withColumn("c", expr(
      """aggregate(zip_with(v1, v2, (x, y) -> cast(x as double) * cast(y as double)),
        |  cast(0.0 as double), (a, b) -> a + b)""".stripMargin)).select("c")
    val natQ = df.withColumn("c", expr("cosine_sim(v1, v2)")).select("c")
    time(natQ); time(hofQ) // warm both paths
    val tn = time(natQ); val th = time(hofQ)
    info(f"native=$tn%.2fs hof=$th%.2fs speedup=${th / tn}%.1fx")
    assert(tn <= th * 1.2, f"native $tn%.2fs should not be slower than HOF $th%.2fs")
  }

  test("library ops call their expressions directly: a session without the four functions returns the same rows") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    val names = Seq("cosine_sim", "topk_by_score", "theta_sketch", "squared_l2")
      .map(FunctionIdentifier(_))
    names.foreach(registry.dropFunction)
    intercept[org.apache.spark.sql.AnalysisException] {
      bare.sql("SELECT cosine_sim(array(cast(1.0 as float)), array(cast(1.0 as float)))")
        .collect()
    }
    def ann(s: SparkSession): Seq[String] =
      graft.ext.Similarity.annTopK(graft.Tables.embeddings(s, sf()),
          Seq(0L, 1L, 2L, 3L, 4L), k = 10)
        .collect().map(_.toString).sorted.toSeq
    def theta(s: SparkSession): Seq[String] =
      graft.SparkEntry.queries("agg_theta_intersect_twin")(s, sf())
        .collect().map(_.toString).toSeq
    assert(ann(bare).nonEmpty)
    assert(ann(bare) == ann(spark))
    assert(theta(bare) == theta(spark))
    assert(!names.exists(registry.functionExists), "library code registered a function")
    graft.ext.Caches.releaseAll(spark); graft.ext.Caches.releaseAll(bare)
  }
}
