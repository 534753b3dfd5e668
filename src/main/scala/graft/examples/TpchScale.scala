package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H family scale curve (r18, VERDICT r17 item 1): the 23 `sql_*`
  * registry rows measured on derived 10×/100× relational fixtures —
  * the one family that had plan audits but no measured curve.
  *
  * Fixture discipline (the ScaleStress replica-stride rule, applied
  * FULL-WIDTH): replica i shifts every key by i·(base key-domain size)
  * — c_custkey/o_custkey by 15000·i, s_suppkey/l_suppkey by 1000·i,
  * p_partkey/l_partkey by 20000·i, o_orderkey/l_orderkey by 150000·i
  * (sf0.1 domains, computed from the base) — while every non-key
  * column rides unchanged. Keys are dense 0-based in the driver
  * fixture, so replicas stay DENSE: the derived-`partsupp` CTE
  * (`ps_suppkey = f(p_partkey) % COUNT(supplier)`, TpchTailQ) keeps
  * exactly its base hit-rate at every factor, and every
  * header/detail/dim join matches within replicas only. Histograms
  * (dates, flags, segments, prices) replicate exactly, so selectivity
  * fractions are factor-invariant and a correctly-scaling query is
  * LINEAR in wall. nation/region stay fixed (25/5 rows — constant at
  * any real SF too).
  *
  * For the heaviest shapes (Q9, Q8, Q21, Q7, Q5) the run captures the
  * FINAL adaptive plan after execution and reports the AQE decisions —
  * AQEShuffleRead coalescing, runtime broadcast demotion/promotion,
  * skew splits — the evidence the plan audit could only assert at
  * sf0.1.
  *
  * Usage: runMain graft.examples.TpchScale [factor] [srcDir]
  * (default factor 10, src sf0.1; fixture cached under
  * target/tpch_scale/x<factor>). One [tpchscale-json] line per run.
  */
object TpchScale {

  private val ScaledTables =
    Seq("customer", "supplier", "part", "orders", "lineitem")
  private val FixedTables = Seq("nation", "region")

  /** Per-table (key column -> stride-domain source table) map. The
    * stride for a key column is the base row count of the table that
    * OWNS the key, so foreign keys shift identically on both sides. */
  private def keyDomains(spark: SparkSession, src: String): Map[String, Long] =
    Map(
      "c_custkey" -> "customer", "o_custkey" -> "customer",
      "s_suppkey" -> "supplier", "l_suppkey" -> "supplier",
      "p_partkey" -> "part", "l_partkey" -> "part",
      "o_orderkey" -> "orders", "l_orderkey" -> "orders"
    ).view.mapValues(t =>
      spark.read.parquet(s"$src/$t.parquet").count()).toMap

  /** Build (once) the full-width replicated fixture at `factor`. */
  def buildFixture(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$out/_built_tpch_x$factor")
    if (marker.exists()) return
    new java.io.File(out).mkdirs()
    val domains = keyDomains(spark, src)
    for (t <- ScaledTables) {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val keyed = (0 until factor).map { i =>
        base.select(base.columns.map { c =>
          domains.get(c) match {
            case Some(d) => (col(c) + lit(i.toLong * d)).as(c)
            case None => col(c)
          }
        }: _*)
      }.reduce(_ unionByName _)
      keyed.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    for (t <- FixedTables)
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    marker.createNewFile(): Unit
  }

  private val HeavySet =
    Seq("sql_tpch_q9", "sql_tpch_q8", "sql_tpch_q21", "sql_tpch_q7",
      "sql_tpch_q5")

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session.local()

    val dir =
      if (factor <= 1) src
      else {
        val out = s"/root/repo/target/tpch_scale/x$factor"
        val t0 = System.nanoTime()
        buildFixture(spark, src, out, factor)
        println(f"[tpchscale] fixture x$factor ready " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
        out
      }

    val sqlRows = graft.SparkEntry.defs.map(_.name).filter(_.startsWith("sql_"))
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    // warmup (classloading + codegen) outside the timed region
    try graft.SparkEntry.queries("sql_tpch_q6")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    sqlRows.foreach { name =>
      var best = Double.MaxValue
      (0 until 2).foreach { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      }
      timings(name) = best
      println(f"[tpchscale] $name%-16s $best%8.2f s")
    }

    // AQE evidence on the heavy shapes: execute through collect() so the
    // SAME QueryExecution carries the finalized adaptive plan, then
    // summarize its runtime decisions
    HeavySet.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(plan).length
      println(s"[tpchscale-aqe] $name final=${plan.contains("isFinalPlan=true")} " +
        s"aqeShuffleRead=${n("AQEShuffleRead")} " +
        s"coalesced=${n("coalesced")} " +
        s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
        s"skew=${n("isSkew=true") + n("skewed")}")
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
    }
    // one full final plan for the north-star join (Q9) — the executed-
    // plan pin the SCALE.md table cites
    val q9 = graft.SparkEntry.queries("sql_tpch_q9")(spark, dir)
    q9.collect()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"target/tpch_q9_plan_x$factor.txt"),
      q9.queryExecution.executedPlan.toString)

    val total = timings.values.sum
    val qs = timings.map { case (k, v) => f""""$k":$v%.2f""" }
      .mkString("{", ",", "}")
    println(f"""[tpchscale-json] {"factor":$factor,"total":$total%.2f,"queries":$qs}""")
    spark.stop()
  }
}
