package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan invariants for the 100 TB posture (SURVEY §4.2, builder
  * brief): filters and projections must reach the parquet scan, small dims
  * must broadcast, aggregates must be two-phase (map-side partial), and
  * equi-joins must never degrade to cartesian products. These are the
  * properties that decide whether a plan survives a 1000-executor cluster,
  * asserted on the actual optimized plans.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    // other suites may have cached fixture tables — a cached scan becomes
    // InMemoryTableScan and hides the parquet pushdown we assert on
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf()).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
  }

  private def planSimple(name: String): String = {
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf()).queryExecution
      .explainString(ExplainMode.fromString("simple"))
  }

  test("filter pushdown reaches the parquet scan") {
    val p = plan("proj_select")
    assert(p.contains("PushedFilters:"), p.take(800))
    assert(p.matches("(?s).*PushedFilters: \\[.*(EqualTo|IsNotNull)\\(l_linenumber.*"),
      "l_linenumber filter should be pushed to the scan:\n" + p.take(1200))
  }

  test("filter pushdown reaches the ORC scan too") {
    val p = plan("src_orc_roundtrip")
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(c_acctbal.*"),
      "c_acctbal filter should be pushed into the ORC reader:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("column pruning: scan reads only projected columns") {
    val p = plan("proj_withcolumn_drop")
    // orders has 6 columns; the query needs 3
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_orderstatus")
      && readSchema.contains("o_totalprice"), readSchema)
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_custkey"),
      s"pruned columns still read: $readSchema")
  }

  test("small dims broadcast in the star join") {
    val p = plan("join_broadcast_star")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "dims should broadcast, not shuffle-sort-merge:\n" + p.take(1500))
  }

  test("aggregation is two-phase (map-side partial)") {
    val p = plan("agg_core")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs:\n" + p.take(1500))
  }

  test("equi-joins never plan as cartesian products") {
    val equiJoins = Seq("join_inner", "join_left", "join_right", "join_full",
      "join_semi", "join_anti", "join_multiway", "join_asof")
    equiJoins.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q degraded to a cartesian product:\n" + p.take(1200))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to BNLJ:\n" + p.take(1200))
    }
  }

  test("timestamp range filter pushes to scan") {
    val p = plan("filter_timestamp_range")
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThanOrEqual\\(l_shipdate.*"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("partitioned source prunes partitions at the scan") {
    val p = plan("src_partitioned_pruned")
    assert(p.matches("(?s).*PartitionFilters: \\[.*o_orderstatus.*") ||
      p.contains("isnotnull(o_orderstatus"),
      "partition filter missing:\n" +
        p.linesIterator.filter(l => l.contains("Partition") || l.contains("Location"))
          .mkString("\n"))
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    Tables.orders(spark, sf()).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    Tables.customer(spark, sf()).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    // demote broadcast so the join must choose SMJ — the case bucketing serves
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(800))
      assert(!p.contains("Exchange"),
        "bucketed join should read co-located buckets with NO shuffle:\n" + p.take(1500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("doc_corpus_pipeline plans exactly two shuffles (dedup key + source rollup)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // sparkPlan predates EnsureRequirements (no exchanges yet) and AQE
    // hides the inner plan — assert on the non-adaptive executedPlan
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("doc_corpus_pipeline")(spark, sf())
      val n = df.queryExecution.executedPlan
        .collect { case _: ShuffleExchangeExec => 1 }.sum
      assert(n == 2, s"expected 2 shuffles, got $n:\n${df.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("incremental embedding ingest: batch side broadcasts, one data shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    spark.catalog.clearCache()
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    val batch = emb.limit(20)
      .select((org.apache.spark.sql.functions.col("vec_id") + 9000000L).as("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val df = graft.ext.Dedup.incrementalCosineNearDups(emb, batch)
    // the broadcast decision is AQE's (runtime stats for the tiny batch
    // side) — execute, then inspect the FINAL adaptive plan
    df.write.format("noop").mode("overwrite").save()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE materializes shuffle stages before demoting joins to
    // broadcast, so bypassed exchanges linger in the final plan — an
    // exact shuffle count is not stable. The invariants that matter:
    // the batch side broadcasts, nothing degrades to an all-pairs
    // product, and shuffles stay bounded (candidate distinct + at most
    // the AQE-materialized join inputs).
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nShuffle = finalPlan.collect { case _: ShuffleExchangeLike => 1 }.sum
    val nBroadcast = finalPlan.collect { case _: BroadcastExchangeLike => 1 }.sum
    val nProduct = finalPlan.collect {
      case _: CartesianProductExec => 1
      case _: BroadcastNestedLoopJoinExec => 1
    }.sum
    assert(nProduct == 0, s"all-pairs product in the plan:\n$finalPlan")
    assert(nBroadcast >= 1, s"batch side is not broadcast:\n$finalPlan")
    assert(nShuffle <= 4, s"unbounded shuffling crept in ($nShuffle):\n$finalPlan")
  }

  test("nested schema pruning: one struct field read, payload column untouched") {
    import org.apache.spark.sql.functions._
    // the multimodal contract: metadata-only queries must not read the
    // binary payload OR the unused struct fields from parquet
    val dir = java.nio.file.Files.createTempDirectory("nested-prune").toString
    spark.range(100)
      .select(col("id"),
        struct(concat(lit("s"), col("id")).as("a"), col("id").as("b")).as("meta"),
        concat(lit("payload-"), col("id")).cast("binary").as("payload"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(col("meta.a"))
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ReadSchema: struct<meta:struct<a:string>>"),
      "scan should read ONLY meta.a:\n" + p.take(1200))
    assert(!p.contains("payload"), "payload column leaked into the scan:\n" + p.take(1200))
  }

  test("global rank/cumsum queries never plan a single-partition exchange") {
    // VERDICT r5/r6 item 3 regression guard: win_ntile_percent and
    // doc_pack_sequences are GLOBAL-order operators; the naive form
    // (Window.orderBy with no partition key) plans
    // Exchange SinglePartition and funnels the table into one task.
    // The GlobalRank two-pass form must keep every exchange parallel.
    for (name <- Seq("win_ntile_percent", "doc_pack_sequences",
        "doc_quality_threshold", "win_range_frame_cont",
        // r8: the span-dedup family (df-aggregate + doc-local windows)
        // and the token-budget head (GlobalRank prefix sum) must also
        // never funnel — every exchange keyed on gram/doc_id/range
        "doc_span_dedup", "doc_span_coverage", "doc_span_cut",
        "doc_token_budget_head",
        // r9: global hash-order shuffle rank (GlobalRank two-pass).
        // doc_lm_perplexity also rides GlobalRank but carries a benign
        // <=512-row scalar-total aggregate (SinglePartition over the
        // bucket table, not the corpus) — covered by the targeted
        // dsir/ppl broadcast test below instead.
        "doc_shuffle_order")) {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sf())
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("SinglePartition"),
        s"$name plans a single-partition exchange:\n${p.take(1500)}")
    }
  }

  test("CorpusBuild exact-dedup stage: map-side partial aggregate, no Window exchange") {
    // VERDICT r8 item 3: the composite's stage 3 must plan the map-side-
    // combinable aggregate shape (partial_min_by BEFORE the exchange —
    // each duplicate group collapses to ≤1 row per map partition before
    // anything shuffles), never a data-scale Window —
    // min().over(partitionBy(fp)) shuffles every member of a duplicate
    // group into one task (skew-killer when one fingerprint has
    // millions of members). min_by over a struct buffers an object, so
    // it plans as SortAggregate, not HashAggregate — partial+final all
    // the same.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val df = graft.ext.CorpusBuild.exactDedupCanonical(docs)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"stage 3 plans a Window:\n${p.take(1500)}")
    assert(p.contains("partial_min_by"),
      s"expected a map-side partial aggregate before the exchange:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      s"stage 3 plans a single-partition exchange:\n${p.take(1500)}")
  }

  test("dsir/ppl: LM table broadcasts, corpus never sort-merge-joins") {
    // the token stream is corpus-sized; the <=512-row log-ratio / NLL
    // table must come to IT (broadcast), never the reverse, and the
    // per-doc sum must be two-phase — the shape that holds at 100 TB
    for (name <- Seq("doc_dsir_weight", "doc_lm_perplexity")) {
      spark.catalog.clearCache()
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name: " + p.take(1500))
      assert(!p.contains("SortMergeJoin"),
        s"$name: LM join must broadcast, not shuffle the token stream:\n" + p.take(1500))
      val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
      assert(hashAggs >= 2, s"$name: expected partial+final HashAggregate, got $hashAggs:\n" + p.take(1500))
      graft.ext.Caches.releaseAll(spark)
    }
  }

  test("k-means assign: broadcast centroids, min_by partial agg, no Window") {
    // the assign stage runs n*k rows per sweep at corpus scale: the
    // k-row centroid frame must broadcast (BroadcastNestedLoopJoin —
    // it's a cross join by construction), the argmin must be the
    // map-side-combinable min_by aggregate (each row's k candidates are
    // adjacent, so the partial collapses them before any shuffle), and
    // no Window/SinglePartition may appear anywhere
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf())
    val df = graft.ext.Embeddings.lloyd(emb, k = 4, iters = 1)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast:\n${p.take(1500)}")
    assert(p.contains("partial_min_by"),
      s"argmin must partial-aggregate map-side:\n${p.take(1500)}")
    assert(!p.contains("Window"), s"assign plans a Window:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      s"assign plans a single-partition exchange:\n${p.take(1500)}")
  }

  test("bitmap distinct: both levels two-phase, no expand of raw values") {
    // the bitmap shape exists to avoid COUNT(DISTINCT)'s Expand +
    // value-bearing shuffle: both aggregation levels must plan partial
    // ObjectHashAggregate/HashAggregate (fixed-width bitmap buffers
    // combine map-side), and no Expand node may appear
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"),
      s"bitmap path must not plan COUNT(DISTINCT)'s Expand:\n${p.take(1500)}")
    assert(p.contains("partial_bitmap_construct_agg") ||
      p.linesIterator.exists(l => l.contains("Aggregate") && l.contains("partial")),
      s"expected map-side partial bitmap aggregate:\n${p.take(1500)}")
  }

  test("profile_columns: ONE scan, no per-column unions, two-phase aggs") {
    // the profiler's contract is a single multi-aggregate pass over the
    // table + a stack unpivot of the one result row — per-column scans
    // (a Union of 5 aggregates) would read the table N_cols times
    val p = plan("profile_columns")
    assert(!p.contains("Union"), s"profile must not union per-column scans:\n${p.take(1500)}")
    // formatted explain prints each node twice (tree + detail header);
    // count only the numbered detail headers
    val scans = p.linesIterator.count(_.matches("^\\(\\d+\\) Scan parquet.*"))
    assert(scans == 1, s"expected exactly one table scan, got $scans:\n${p.take(1500)}")
  }

  test("quantized covariance: map-side partial sums, no object buffers") {
    // r9 rewrite: the (i,j) product sums must plan partial+final
    // HashAggregate on fixed-width decimal buffers — the sorted-fold
    // collect_list shape (ObjectHashAggregate buffering n values per
    // group) is exactly what the rewrite removed
    val p = plan("emb_covariance")
    assert(!p.contains("collect_list"),
      s"covariance must not buffer value lists:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected two-phase decimal-sum aggregate:\n${p.take(1500)}")
  }

  test("label propagation sweep: vote agg is two-phase, window only node-sized") {
    // one sweep = (dst,label) count (must be partial+final HashAggregate
    // — map-side combinable) + row_number over per-node vote groups; the
    // window input is node-sized (votes), never the edge list
    import org.apache.spark.sql.functions._
    val edges = spark.range(1000).select(col("id").as("a"),
      ((col("id") * 7 + 3) % 1000).as("b"))
    val nodes = spark.range(1000).select(col("id").as("node"))
    val p = graft.ext.Graph.labelPropagation(nodes, edges, iters = 1)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"vote count must be two-phase:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      s"no global window allowed in a sweep:\n${p.take(1500)}")
  }

  test("ohlc resample: pure two-phase aggregate — no Window, no sort-based agg of raw rows") {
    val p = plan("ts_resample_ohlc")
    assert(!p.toLowerCase.contains("window"),
      s"OHLC must not window over raw events:\n${p.take(1500)}")
    assert(p.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("ObjectHashAggregate")) >= 2,
      s"min_by/max_by aggregate must be two-phase:\n${p.take(1500)}")
  }

  test("transition matrix: lag window partitioned by user, never global") {
    val p = plan("evt_transition_matrix")
    assert(!p.contains("SinglePartition"),
      s"user-keyed lag must not sink to one partition:\n${p.take(1800)}")
  }

  test("CDC merge: full-outer join is co-partitioned, not broadcast/nested-loop") {
    val p = plan("etl_merge_upsert")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"expected co-partitioned full-outer SMJ:\n${p.take(1800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"merge must never nested-loop:\n${p.take(1500)}")
  }

  test("gap-fill: every window partitioned (by type or island), none global") {
    val p = plan("ts_gapfill_interp")
    assert(!p.contains("SinglePartition"),
      s"gap-fill windows must stay partitioned:\n${p.take(1800)}")
  }

  test("set-sim join: no cartesian, windows doc-partitioned, filters ride the join") {
    val p = plan("doc_setsim_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join must stay an equi-join:\n${p.take(1800)}")
    // the PPJoin length/position filters must fold into the candidate
    // join as residual conditions — a post-join Filter would mean the
    // raw bucket-product rows materialize first
    assert(p.matches("(?s).*Join condition:.*least.*greatest.*"),
      "length/position filters should be SMJ residual conditions:\n" +
        p.linesIterator.filter(_.contains("Join condition"))
          .mkString("\n"))
  }

  test("triangle census: edge joins are equi-joins, no cartesian") {
    val p = plan("ext_triangle_count")
    // the 1-row summary stats may cross-join (BroadcastNestedLoopJoin on
    // single-row frames — constant cost); the EDGE joins must be hashed
    // or sort-merged equi-joins and nothing may plan CartesianProduct
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"edge joins must be equi-joins:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"no CartesianProduct even for stats:\n${p.take(1500)}")
  }

  test("link prediction: wedge joins are equi-joins, no cartesian, no global window") {
    val p = plan("ext_link_prediction")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration must stay an equi-join:\n${p.take(1800)}")
    assert(!p.matches("(?s).*Window.*SinglePartition.*"),
      s"no global window:\n${p.take(1500)}")
  }

  test("BPE tokenize: vocab side broadcasts into the corpus join") {
    val p = plan("doc_bpe_tokenize")
    // the per-word segment lengths are vocab-sized — they must reach
    // the corpus-sized (doc_id, word) explode as a broadcast, never a
    // corpus-wide shuffle join
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join should broadcast:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("cusum + drawdown: windows are key-partitioned, never global") {
    Seq("ts_cusum_changepoint", "ts_max_drawdown").foreach { q =>
      val p = plan(q)
      assert(!p.matches("(?s).*Window.*SinglePartition.*"),
        s"$q plans a global window:\n${p.take(1500)}")
    }
  }

  test("z-order audit: pure scan + two-phase aggregation, no joins") {
    val p = plan("etl_zorder_layout")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"two-phase aggregate expected:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no joins in the layout audit:\n${p.take(1200)}")
  }

  test("quantize + silhouette: stats tables broadcast, no cartesian, no global window") {
    Seq("emb_quantize_int8", "emb_silhouette").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q should broadcast its per-dim stats table:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cartesian:\n${p.take(1500)}")
      assert(!p.matches("(?s).*Window.*SinglePartition.*"),
        s"$q plans a global window:\n${p.take(1500)}")
    }
  }

  test("stickiness + ACF + contamination: key-partitioned, equi-joins only") {
    Seq("evt_stickiness", "ts_acf", "doc_eval_contamination").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cartesian:\n${p.take(1500)}")
      assert(!p.matches("(?s).*Window.*SinglePartition.*"),
        s"$q plans a global window:\n${p.take(1500)}")
    }
  }

  test("rfm + copurchase: no global window, no cartesian") {
    val p1 = plan("evt_rfm_segments")
    assert(!p1.matches("(?s).*Window.*SinglePartition.*"),
      s"RFM must ride GlobalRank, not a global NTILE window:\n${p1.take(1500)}")
    val p2 = plan("ext_copurchase_pairs")
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"),
      s"basket self-join must stay order-keyed:\n${p2.take(1500)}")
  }

  test("tpch q6: every predicate pushed to the scan, no join anywhere") {
    val p = plan("sql_tpch_q6")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(pushed.contains(c), s"$c not pushed: $pushed"))
    assert(!p.contains("Join"), s"q6 must be join-free:\n${p.take(1200)}")
  }

  test("tpch q14: part dim broadcasts into the month slice") {
    val p = plan("sql_tpch_q14")
    assert(p.contains("BroadcastHashJoin"),
      s"part should broadcast:\n${p.take(1500)}")
    assert(p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString.contains("l_shipdate"),
      "month slice should push to the lineitem scan")
  }

  test("bucketed join: co-located SMJ, the only exchange is the aggregate's") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("join_bucketed_colocated")
      assert(p.contains("SortMergeJoin"),
        s"bucketed fact-fact join should sort-merge:\n${p.take(1500)}")
      // count physical Exchange NODES via their detail headers — the
      // formatted dump shows each node once in the tree and once as a
      // "(n) Exchange" detail section
      val exchanges = p.linesIterator.count(_.matches("""^\(\d+\) Exchange.*"""))
      assert(exchanges <= 1,
        s"bucket specs should satisfy the join distribution " +
          s"($exchanges exchanges):\n${p.take(2000)}")
      assert(p.contains("Bucketed: true"),
        s"scan should report bucketed layout:\n${p.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("snapshot diff: one equi-keyed full-outer join, never BNLJ") {
    val p = plan("etl_snapshot_diff")
    assert(p.contains("FullOuter"),
      s"diff should plan a full-outer join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff join must stay equi-keyed:\n${p.take(1500)}")
  }

  test("reconciliation: fact aggregates map-side before the header join") {
    val p = plan("etl_reconcile_totals")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"per-order recompute should partial-aggregate, got $hashAggs:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"header join must stay equi-keyed:\n${p.take(1500)}")
  }

  test("skyline: decision windows are bucket-local, never a global row sweep") {
    val p = plan("ext_skyline")
    // the per-row path must not sort the whole table into one partition:
    // every SinglePartition exchange must feed only the tiny per-bucket
    // aggregate (max p_size per dollar bucket), whose input is already
    // aggregated. Assert the row-scaled window is partitioned by bucket.
    assert(p.matches("(?s).*Window.*p_retailprice.*"),
      s"bucket-local window missing:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"skyline must not plan the O(n^2) dominance join:\n${p.take(1500)}")
  }

  test("inverted index: postings cap rides a term-keyed window + agg") {
    val p = plan("doc_inverted_index")
    assert(!p.contains("SinglePartition") || p.contains("TakeOrdered"),
      s"only the final top-100 may funnel:\n${p.take(2000)}")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"df count should partial-aggregate, got $hashAggs:\n${p.take(1500)}")
  }

  test("event-time range join stays equi-keyed on user with a band filter") {
    val p = plan("join_view_purchase_window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must use the user_id equi-key:\n${p.take(1500)}")
    assert(p.matches("(?s).*PushedFilters: \\[.*EqualTo\\(event_type.*"),
      "event_type filters should reach the scan:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("equi-depth histogram: decile ids from GlobalRank, never a global NTILE") {
    val p = plan("profile_histogram_eqdepth")
    assert(!p.toLowerCase.contains("ntile"),
      s"bucket ids must come from the closed form, not a window NTILE:\n${p.take(1500)}")
    assert(p.contains("_gr_pid"),
      s"ranking must ride the partition-local GlobalRank window:\n${p.take(1500)}")
  }

  test("gini: rank window partition-local, moments two-phase") {
    val p = plan("evt_gini")
    assert(p.contains("_gr_pid"),
      s"global rank must be the two-pass form:\n${p.take(1500)}")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"per-user counts must partial-aggregate, got $hashAggs:\n${p.take(1500)}")
  }

  test("theil-sen: pair join equi-keyed on event_type, never cartesian") {
    val p = plan("ts_theil_sen")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair formation must join on the series key:\n${p.take(1500)}")
  }

  test("assortativity: degree joins equi-keyed, moments one scalar agg") {
    val p = plan("ext_assortativity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"degree decoration must stay equi-keyed:\n${p.take(1500)}")
  }

  test("winsorize: stats table broadcasts back, no sort of raw rows") {
    val p = plan("profile_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|-row stats table must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"cap join must stay keyed:\n${p.take(1500)}")
  }

  test("tpch q19: per-side disjunction pushed to both scans, never BNLJ") {
    // The OR-of-ANDs predicate mixes both join sides; Catalyst must
    // derive the part-only and lineitem-only disjunctions
    // (extractPredicatesWithinOutputSet) so each scan prunes before the
    // equi join (VERDICT r14 item 7: the one pushdown shape no other
    // row exercised).
    val p = plan("sql_tpch_q19")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q19 must keep the p_partkey equi key:\n${p.take(1500)}")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("Or(") && pushed.contains("p_brand"),
      s"part scan should receive the pushed brand/size disjunction:\n$pushed")
    assert(pushed.contains("l_quantity"),
      s"lineitem scan should receive the derived quantity disjunction:\n$pushed")
  }

  test("tpch q1: one scan, two-phase wide aggregate, shipdate pushed") {
    val p = plan("sql_tpch_q1")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"q1 should partial-aggregate map-side, got $hashAggs:\n${p.take(1200)}")
    assert(p.matches("(?s).*PushedFilters: \\[.*l_shipdate.*"),
      "shipdate bound should reach the parquet scan:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("tpch q17: correlated scalar aggregate decorrelates to an aggregate-join") {
    // RewriteCorrelatedScalarSubquery must turn the per-part avg
    // subquery into groupBy(l_partkey)+join — never a per-row re-scan
    // (no nested-loop, no subquery left in the physical plan)
    val p = plan("sql_tpch_q17")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q17's correlated avg must decorrelate to an equi join:\n${p.take(1500)}")
    assert(!p.toLowerCase.contains("scalarsubquery") || !p.contains("l_partkey = p_partkey"),
      s"no correlated subquery may survive to execution:\n${p.take(1500)}")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"the per-part avg should be a standalone aggregate, got $hashAggs:\n${p.take(1500)}")
  }

  test("tpch q2: nested correlated MIN decorrelates; no per-row re-scan of partsupp") {
    // the hardest decorrelation in the suite: the correlated scalar
    // MIN over a 4-table join must become a grouped aggregate joined
    // on ps_partkey (RewriteCorrelatedScalarSubquery), never a
    // nested-loop or a surviving per-row subquery
    val p = plan("sql_tpch_q2")
    // the partsupp DERIVATION is part CROSS JOIN a 4-literal-row union —
    // a 4-row broadcast BNLJ by construction; any OTHER nested-loop
    // (i.e. a non-Cross BNLJ from a failed decorrelation) is banned.
    // Join types live on the tree line only in simple mode.
    val ps = planSimple("sql_tpch_q2")
    assert(!ps.contains("CartesianProduct") &&
      ps.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
        .forall(_.contains("Cross")),
      s"q2's correlated MIN must decorrelate to an equi join:\n${ps.take(1500)}")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"the per-part MIN should be a standalone grouped aggregate, got $hashAggs:\n${p.take(1500)}")
    assert(p.linesIterator.exists(l => l.contains("min(") && l.contains("ps_supplycost")),
      s"the decorrelated aggregate must compute min(ps_supplycost):\n${p.take(2000)}")
  }

  test("tpch q20: correlated scalar inside IN decorrelates; lineitem aggregated once") {
    val p = plan("sql_tpch_q20")
    // same carve-out as q2: the 4-literal-row partsupp derivation is a
    // legitimate Cross BNLJ; everything else must be equi-keyed
    val ps = planSimple("sql_tpch_q20")
    assert(!ps.contains("CartesianProduct") &&
      ps.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
        .forall(_.contains("Cross")),
      s"q20 must stay equi-keyed:\n${ps.take(1500)}")
    val lower = p.toLowerCase
    assert(lower.contains("leftsemi") || lower.contains("left semi"),
      s"the IN must plan as a semi join:\n${p.take(1500)}")
    assert(p.linesIterator.exists(l => l.contains("sum(") && l.contains("l_quantity")),
      s"the correlated availqty threshold must become a grouped sum over lineitem:\n${p.take(2000)}")
  }

  test("tpch q21: nested EXISTS / NOT EXISTS become semi + anti joins") {
    val p = plan("sql_tpch_q21")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q21 must stay equi-keyed on l_orderkey:\n${p.take(1500)}")
    val lower = p.toLowerCase
    assert(lower.contains("leftsemi") || lower.contains("left semi"),
      s"the EXISTS must plan as a semi join:\n${p.take(1500)}")
    assert(lower.contains("leftanti") || lower.contains("left anti"),
      s"the NOT EXISTS must plan as an anti join:\n${p.take(1500)}")
  }

  test("tpch q22: scalar subquery once, NOT EXISTS as an anti join") {
    val p = plan("sql_tpch_q22")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q22 must stay keyed:\n${p.take(1500)}")
    val lower = p.toLowerCase
    assert(lower.contains("leftanti") || lower.contains("left anti"),
      s"the NOT EXISTS must plan as an anti join:\n${p.take(1500)}")
    // the global-average scalar subquery is UNcorrelated: it executes
    // once and lands in the plan as a Subquery/scalar-subquery node,
    // never a join per row
    assert(lower.contains("subquery"),
      s"the uncorrelated average should remain a one-shot scalar subquery:\n${p.take(1500)}")
  }

  test("ext_pagerank prologue: orders⋈lineitem runs as a shuffled hash join") {
    spark.catalog.clearCache()
    val pairs = graft.queries.GraphQ.pagerankPairs(spark, sf())._1
    pairs.collect()
    // the final adaptive plan: at fixture scale AQE would broadcast
    // orders, so this pins that the hint holds at every scale
    val p = pairs.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("isFinalPlan=true"), p.take(1500))
    assert(p.contains("ShuffledHashJoin"), s"prologue join is not shuffle-hash:\n${p.take(1500)}")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"prologue join left the shuffle-hash path:\n${p.take(1500)}")
  }

  test("salted skew join: exchange keyed on (uid, salt), shuffle-hash, no broadcast") {
    val p = plan("join_skew_salted")
    assert(p.contains("ShuffledHashJoin"),
      s"the skew demo must exercise the shuffle join path:\n${p.take(1500)}")
    assert(!p.contains("BroadcastHashJoin"),
      s"broadcasting the dim would make the salt moot:\n${p.take(1500)}")
    // the join keys (and so the exchanges) must include the salt — that
    // IS the mechanism: the hot uid's rows spread across 8 reduce tasks.
    // Formatted explain puts keys in the details section ("Left keys
    // [2]: [uid#.., salt#..]"), not on the tree line.
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("[")).mkString("\n")
    assert(keyLines.contains("salt"),
      s"salt must be part of the join key:\n$keyLines")
  }

  test("AQE OptimizeSkewedJoin splits the planted hot partition (forced thresholds)") {
    // the AQE twin of join_skew_salted: no manual salt — a sort-merge
    // join over the same planted hot key, with the skew thresholds
    // forced low enough that the sf-scale hot partition qualifies. The
    // assertion is on the EXECUTED adaptive plan: the join must carry
    // the skew=true marker (OptimizeSkewedJoin fired and split the
    // partition into parallel sub-reads).
    import org.apache.spark.sql.functions._
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      // split even where it costs an extra shuffle before the aggregate
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // coalescing would re-merge the small partitions and blur sizes
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // sf0.01 (10k events) with 60% of rows on ONE key: the hot
      // partition is ~6x the median. The skew detector reads COMPRESSED
      // shuffle-block sizes, and a constant-key/no-payload row deflates
      // to nothing — carry the incompressible value/props payload so
      // the hot block's bytes actually reflect its row count.
      // ~160 B of per-row INCOMPRESSIBLE payload (md5 of the row id):
      // the detector reads compressed shuffle-block bytes, and a
      // constant-key partition otherwise deflates below any threshold
      val ev = Tables.events(spark, sf("sf0.01")).select(
        when(col("event_id") % 10 < 6, lit(7L))
          .otherwise(col("user_id")).as("uid"),
        col("value"),
        concat(md5(col("event_id").cast("string")),
          md5(concat(col("event_id").cast("string"), lit("x"))),
          md5(concat(col("event_id").cast("string"), lit("y"))),
          md5(concat(col("event_id").cast("string"), lit("z"))),
          md5(concat(col("event_id").cast("string"), lit("w")))).as("props"))
        // skew splits are MAP-GRANULAR (each split reads a subset of map
        // outputs): the sf0.01 parquet is ONE map task, which makes the
        // hot reduce partition unsplittable however large — spread the
        // scan over 16 map tasks first (at cluster scale this is the
        // natural state; debugged live via OptimizeSkewedJoin's logs,
        // which detected max/median = 7x yet reported 0 skewed)
        .repartition(16)
      val users = Tables.customer(spark, sf("sf0.01"))
        .select(col("c_custkey").as("uid"), col("c_mktsegment"))
      // aggregate over the payload columns so column pruning cannot
      // strip them before the shuffle — the skew detector needs the hot
      // block's bytes to reflect its row count
      val joined = ev.join(users, "uid")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("value").as("sv"),
          max("props").as("mp"))
      joined.collect()
      val executed = joined.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true") || executed.contains("skewed"),
        s"OptimizeSkewedJoin should have split the hot partition:\n${executed.take(2500)}")
    } finally restore()
  }

  test("LSH verify runs over co-grouped arrays, never exploded pair-shingle rows") {
    // the r16 rewrite that took the 1000x family to default config:
    // intersection counts come from ONE array_intersect per candidate
    // pair — the plan must show the intersect and must NOT re-grow a
    // (doc_a, doc_b)-keyed aggregate after the candidate joins (the
    // signature of the old |pairs| x |shingles| exchange). The
    // composite row materializes eagerly (CC checkpoints cut lineage),
    // so pin the EDGES frame the family shares, pre-materialization.
    spark.catalog.clearCache()
    val (edges, release) = graft.ext.Dedup.lshVerifiedEdges(
      Tables.documents(spark, sf()), threshold = 0.5)
    try {
      val p = edges.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("array_intersect"),
        s"verification must intersect per-doc shingle arrays:\n${p.take(1500)}")
      val aggLines = p.linesIterator
        .filter(l => l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
        .filter(l => l.contains("doc_a") && l.contains("doc_b")).toList
      assert(aggLines.isEmpty,
        s"no post-join (doc_a, doc_b) aggregate may reappear:\n${aggLines.mkString("\n")}")
    } finally release()
  }

  test("pii redaction is a map-only scan: no exchange, regexp stays in codegen") {
    val p = plan("doc_pii_redact")
    assert(!p.contains("Exchange"),
      s"redaction must not shuffle:\n${p.take(1200)}")
    assert(p.contains("WholeStageCodegen") || !p.contains("BatchEvalPython"),
      s"regexp chain should stay native:\n${p.take(800)}")
  }

  test("no registry plan carries an array through a SortAggregate buffer") {
    // r18, VERDICT item 4: the r17 scale kills (IVF-PQ coarse sweep,
    // pqEncode) were both the same plan shape — a SortAggregate whose
    // aggregation buffer holds an ARRAY (min_by/max_by over a struct
    // carrying the vector), which forbids hash aggregation and sorts
    // n-fat rows. The guarded exact path (lloydAssign, k<=8 oracle
    // rows) must never leak into a registry row. Walk every registry
    // plan and assert the signature is absent, so the r17 audit cannot
    // regress silently.
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    def hasArray(dt: DataType): Boolean = dt match {
      case _: ArrayType => true
      case s: StructType => s.fields.exists(f => hasArray(f.dataType))
      case _ => false
    }
    // Documented exception: emb_kmeans is the k<=8 exact-fold oracle
    // row that deliberately keeps lloydAssign's declarative
    // crossJoin+min_by (bounded at k centroids, scale warning at
    // ext/Embeddings lloydAssign). Every production path (ivf fits,
    // IVF-PQ coarse sweep, assignCells, pqEncode) routes the narrow
    // map; nothing else may appear here. (CorpusBuild's canonical pick
    // min_by's a struct of scalars — no array in the buffer — so it
    // needs no exemption.)
    val allowlist = Set("emb_kmeans")
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.defs.foreach { q =>
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      val df = SparkEntry.queries(q.name)(spark, sf())
      val bad = df.queryExecution.sparkPlan.collect {
        case s: SortAggregateExec if s.aggregateExpressions.exists(ae =>
          ae.aggregateFunction.aggBufferAttributes.exists(a =>
            hasArray(a.dataType))) => s
      }
      if (bad.nonEmpty && !allowlist(q.name)) offenders += q.name
    }
    spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
    assert(offenders.isEmpty,
      s"array-buffer SortAggregate leaked into registry plans: " +
        s"${offenders.mkString(", ")} — route through the narrow-map " +
        "assign/encode shapes (ext/Embeddings coarseAssign/pqEncodeWith)")
  }

  test("whole-stage codegen covers the relational core") {
    // AQE's pre-execution dump hides codegen spans (isFinalPlan=false);
    // inspect the non-adaptive plan for the codegen fences
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("agg_core")(spark, sf()).queryExecution
        .explainString(ExplainMode.fromString("codegen"))
      assert(p.contains("WholeStageCodegen"), p.take(800))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
