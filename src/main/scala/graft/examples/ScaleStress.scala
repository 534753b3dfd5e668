package graft.examples

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Checkpoints.CutOps

/** Scale-stress harness: measures the heavy dedup/ANN/curation queries
  * on a DERIVED fixture `factor`× the size of the driver's largest one
  * (sf0.1), to turn the "would this survive 100×?" argument from a
  * plan-shape claim into a measured slope (VERDICT r4 "What's missing"
  * item 2 — /root/testdata tops out at sf0.1).
  *
  * The fixture is derived, never hand-synthesized semantics: each
  * replica i of a document rotates its token sequence by i+1 positions
  * (every 3-gram shingle changes, so replicas are NOT near-dups of the
  * original — the explosion a naive copy would plant in every LSH
  * bucket); each replica of an embedding rotates the vector by i+1
  * coordinates (norm- and distribution-preserving, so random-pair
  * cosine structure matches the base fixture). Ids shift by
  * i * 10^9. The derived data lives under the repo target dir — the
  * read-only driver fixtures are untouched, and correctness gates
  * still run exclusively on driver data.
  *
  * Usage: runMain graft.examples.ScaleStress [factor] [outDir] [src]
  * Prints one JSON line: per-query best-of-2 seconds at the scaled
  * fixture, plus row counts.
  */
object ScaleStress {

  /** The scale-sensitive registry entries: every family whose cost is
    * NOT trivially linear-per-row (candidate joins, iterative CC,
    * full-corpus ANN, window-over-tokens). */
  val heavy: Seq[String] = Seq(
    "doc_minhash_candidates",
    "doc_simhash",
    "doc_ngram_jaccard",
    "doc_dedup_pipeline",
    "doc_dedup_keep_best",
    "doc_decontaminate",
    "doc_lsh_verified_dedup",
    "doc_incremental_neardups",
    "doc_repetition",
    "doc_top_ngrams",
    "ext_ann_topk_batch",
    "ext_ivf_topk_batch",
    "emb_semdedup",
    "emb_dedup_lsh",
    "emb_incremental_neardups",
    // r7 GlobalRank-backed global-order ops: the two-pass form must
    // stay sort-dominated (no single-partition funnel) as rows grow
    "doc_pack_sequences",
    "doc_quality_threshold",
    // r8: span-level substring dedup (df-aggregate shape — expected to
    // track the linear-per-row family, not the pair-forming one).
    // win_range_frame_cont is NOT here: the derived fixture replicates
    // only documents/embeddings, and its scale behavior is bounded by
    // the measured replication factor anyway (SCALE.md windows note).
    "doc_span_dedup",
    // r9 (VERDICT r8 item 5): the span policy/cut siblings and the
    // end-to-end corpus-build composite — the funnel was the one new
    // code path with no scale datapoint
    "doc_span_coverage",
    "doc_span_cut",
    "pipeline_corpus_build",
    // r9: BM25 retrieval — expected flat-ish (term-pruned tf branch)
    "ext_bm25_topk",
    // r9: DSIR importance weights (expected linear — one bucket-count
    // pass + broadcast log-ratio join) and cluster-density pruning
    // (k-means assign + per-cell windows; auto nCells keeps cell
    // occupancy constant, so the windows must stay flat as n grows)
    "doc_dsir_weight",
    "emb_cluster_prune",
    // r9: CCNet perplexity tertiles — same LM-broadcast shape as DSIR
    // plus the GlobalRank two-pass for the corpus-wide split (expected
    // ~linear; the rank adds one range exchange over doc-level rows)
    "doc_lm_perplexity",
    // r9: semantic decontamination — the eval side is fixed-size, so
    // cost must track the corpus side's bucket-join volume (~linear)
    "emb_decontaminate",
    // r9: BPE pair counts — expected flat-ish (the pair explosion is
    // vocabulary-sized; replicas shuffle tokens, not characters, so the
    // distinct-word set is constant as the corpus replicates)
    "doc_bpe_pairs",
    // r9: event-analytics family — events.parquet replicates with
    // user_id shifts, so group counts grow with the factor; funnels are
    // user_id-keyed joins (expected ~linear), MAD is two aggregate
    // passes + a 5-row broadcast, the profiler is one scan
    "evt_funnel",
    "evt_funnel_windowed",
    "evt_retention_cohort",
    "evt_anomaly_mad",
    "profile_columns",
    "doc_source_quota",
    // r11: trained quality classifier — featurize (md5-hash per token)
    // + 8 treeAggregate gradient sweeps + one scoring aggregate;
    // expected ~linear in tokens with a flat sweep count
    "doc_quality_classifier",
    // r9: grid-bucketed interval join (day-sliced). Replicas add fresh
    // users to the SAME time window, so the co-activity pair OUTPUT
    // grows ~factor² by construction (unsliced form measured 17 s at
    // 1× -> 290 s at 10× — recorded in SCALE.md as the density
    // caveat); the day-sliced registry row keeps slices cell-bounded
    "join_interval_overlap",
    // r12: exact prefix-filtered set-similarity join — the claim to
    // measure is that candidate volume tracks the true near-dup count
    // (prefixes are the rarest shingles), so cost must stay near the
    // linear-scan family even as replicas multiply the corpus.
    // (ext_triangle_count is NOT here: it reads lineitem, which the
    // derived fixture does not replicate — its scale argument is
    // structural: a top-3 kNN graph has <= 3n edges and <= 9n wedges
    // by construction at any n.)
    "doc_setsim_join",
    // r12: seasonal decomposition — replicas densify the SAME time
    // window, so the hourly series length is constant and cost must
    // track the pre-aggregation scan, not the window stages
    "ts_seasonal_decompose",
    // r12: JL projection — expected linear (explode + broadcast-join +
    // map-side-combinable aggregate; the 512-row sign matrix is
    // corpus-size-independent)
    "emb_jl_project",
    // r14 (VERDICT r12 item 7): the kNN-graph family — replicated
    // lineitem gives `factor` disjoint copies of the supplier co-order
    // graph (same degree distribution, factor× nodes/edges), so these
    // must track the linear family: the kNN construction bounds edges
    // at 3n and the compact-forward join bounds wedges at O(9n).
    "ext_triangle_count",
    "ext_clustering_coeff",
    "ext_kcore",
    // r14: wedge enumeration + truncated BFS on the same kNN graph —
    // the same replicated-fixture linearity expectation as the family
    // above (disjoint copies, bounded degree)
    "ext_link_prediction",
    "ext_bfs_distance",
    // r14: density-auto-eps DBSCAN — the replicated embedding fixture
    // densifies the same coordinate space, which is exactly the regime
    // the eps ∝ 1/sqrt(n) knob linearizes; expected near-linear wall
    "emb_dbscan_grid",
    // r14 part 2: eval-side containment audit — the bench slice grows
    // with the corpus here (doc_id % 25 replicates too), so this
    // measures the pair-forming shingle join under a growing eval set,
    // the worst case for the bench-broadcast claim
    "doc_eval_contamination",
    // r14 part 2: SQ8 quantization + silhouette — both explode+
    // broadcast+aggregate shapes (64-row scale table / k·64 centroid
    // table), expected linear like jl_project
    "emb_quantize_int8",
    "emb_silhouette",
    // r14 part 2: hash-argmin random walks on the replicated co-order
    // graph — walks scale with nodes, each step is one equi-join +
    // per-walk argmin; expected linear (disjoint replicas)
    "ext_random_walk",
    // r14 part 2: events-family additions — stickiness expands the
    // deduped day×user frame 7×, ACF windows run over the (constant-
    // length) hourly series; both expected ~linear in the scan
    "evt_stickiness",
    "ts_acf",
    // r14 part 3b: winnowing (per-doc hash windows — linear), pairwise
    // cross-correlation (constant series length — flat), whitening
    // (one treeAggregate + map-only projection — linear), MIPS top-k
    // (broadcast queries × corpus scan — linear)
    "doc_winnowing",
    "ts_cross_corr",
    "emb_pca_whiten",
    "emb_mips_topk",
    // r14 part 3b: RFM (user-frame GlobalRank passes — linear) and
    // basket pairs (per-order C(b,2) fan-out on disjoint replicas —
    // linear)
    "evt_rfm_segments",
    "ext_copurchase_pairs",
    // r15: audit family — snapshot diff is ONE full-outer SMJ on the
    // replicated order key (expected linear), reconciliation is one
    // fact-side partial agg + a key-colocated join (expected linear in
    // lineitem rows); both ride the orders/lineitem-money fixtures
    "etl_snapshot_diff",
    "etl_reconcile_totals",
    // r15: Pareto skyline — the bucket prefilter must keep the decision
    // windows bucket-local as parts replicate (expected linear scan +
    // tiny bucket table; the frontier itself is duplicated per replica)
    "ext_skyline",
    // r15: inverted-index build — distinct + capped-postings window +
    // agg, all keyed on (term) (expected ~linear in token volume;
    // postings stay 20-capped however hot the stop-words get)
    "doc_inverted_index",
    // r15: event-time range join — per-user fan-out is views×purchases
    // within the hour; replicas add FRESH users to the same window, so
    // pair output and cost must scale ~linearly with the factor
    "join_view_purchase_window",
    // r15: Borůvka spanning backbone on the replicated co-order kNN
    // graph — disjoint replicas keep per-round pick joins linear; the
    // budget grows only as ceil(log2 n)+1, so total cost must track
    // n log n (the rounds are keyed shuffles of the shrinking comp set)
    "ext_mst_backbone",
    // r15 part 2: Theil–Sen (pair mass is series-length-bounded —
    // expected FLAT like acf/cross_corr), Gini + equi-depth deciles
    // (GlobalRank two-passes over user-/order-sized frames — linear),
    // assortativity (degree-join over 3n edges — linear)
    "ts_theil_sen",
    "evt_gini",
    "profile_histogram_eqdepth",
    "ext_assortativity",
    // r16: PII redaction — pure regexp map over the corpus, expected
    // strictly linear (the no-shuffle baseline the other curves are
    // judged against)
    "doc_pii_redact",
    // r15 part 3: winsorized summary — two agg passes + a |types|-row
    // broadcast (the MAD shape); expected linear in the scan
    "profile_winsorize")

  /** Replicated (l_orderkey, l_suppkey) lineitem projection — replica
    * i shifts orderkey by i·10⁹ and suppkey by i·10⁷, so the supplier
    * co-order graph becomes `factor` DISJOINT copies of the base graph:
    * node/edge counts scale by the factor while the per-order supplier
    * fan-out (the co-order join's expansion suspect) stays exactly the
    * base distribution. Only the two graph-feeding columns are written
    * — the kNN rows never read the rest, and parquet projection means
    * a full-width replica would only add write cost. Built on demand
    * (graph names requested). */
  def buildLineitemFixture(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    // v3 marker (r15 part 4): + l_quantity/l_shipdate/l_returnflag/
    // l_linestatus (the TPC-H Q1/Q19 columns), and l_partkey now
    // strides by the SAME 1e9 as buildPartFixture's p_partkey — the old
    // 1e7 stride meant a lineitem-part join at factor >= 2 silently
    // matched only replica 0. Older fixtures on disk rebuild rather
    // than failing rows with a missing-column error.
    val fs = new java.io.File(s"$out/_built_li_v3_x$factor")
    if (fs.exists()) return
    val base = spark.read.parquet(s"$src/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_quantity"), col("l_shipdate"),
        col("l_returnflag"), col("l_linestatus"))
    val replicated = (0 until factor).map { i =>
      base.select(
        (col("l_orderkey") + lit(i.toLong * 1000000000L)).as("l_orderkey"),
        (col("l_suppkey") + lit(i.toLong * 10000000L)).as("l_suppkey"),
        // r14 part 3b: partkey rides along (same disjoint-shift law) so
        // the basket-mining row can ride this fixture; the kNN rows
        // project it away at the parquet scan
        (col("l_partkey") + lit(i.toLong * 1000000000L)).as("l_partkey"),
        // r15: money columns ride unchanged (the reconciliation row
        // recomputes per-order totals from them; replicas keep the base
        // per-order arithmetic exactly, keyed under the shifted order)
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        // r15 part 4: Q1/Q19 predicate + aggregate columns ride
        // unchanged — replicas repeat the base date/flag distribution
        col("l_quantity"), col("l_shipdate"),
        col("l_returnflag"), col("l_linestatus"))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    fs.createNewFile(): Unit
  }

  /** Replicated orders with the SAME 1e9 orderkey stride as the
    * lineitem fixture, so header/detail keys stay consistent across
    * replicas (the reconciliation row joins them). Prices, statuses and
    * dates ride unchanged — the snapshot-diff derivation rules (%97 /
    * %13 / %89) hit shifted keys at the same rates. */
  def buildOrdersFixture(spark: SparkSession, src: String,
      out: String, factor: Int): Unit = {
    val fs = new java.io.File(s"$out/_built_orders_x$factor")
    if (fs.exists()) return
    new java.io.File(out).mkdirs()
    val base = spark.read.parquet(s"$src/orders.parquet")
    val replicated = (0 until factor).map { i =>
      base.select(
        (col("o_orderkey") + lit(i.toLong * 1000000000L)).as("o_orderkey"),
        (col("o_custkey") + lit(i.toLong * 1000000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/orders.parquet")
    fs.createNewFile(): Unit
  }

  /** Replicated customer (r20, ADVICE r19): c_custkey shifts by the
    * SAME 1e9-per-replica stride as the orders fixture's o_custkey, so
    * the ext_pagerank_personalized seed join (customer ⋈ trade pairs on
    * custkey) finds every replica's BUILDING-segment customers;
    * c_mktsegment rides unchanged, so the seed RATIO is
    * factor-invariant. */
  private def buildCustomerFixture(spark: SparkSession, src: String,
      out: String, factor: Int): Unit = {
    val fs = new java.io.File(s"$out/_built_customer_x$factor")
    if (fs.exists()) return
    new java.io.File(out).mkdirs()
    val base = spark.read.parquet(s"$src/customer.parquet")
    val replicated = (0 until factor).map { i =>
      base.withColumn("c_custkey",
        col("c_custkey") + lit(i.toLong * 1000000000L))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/customer.parquet")
    fs.createNewFile(): Unit
  }

  /** Replicated part: keys shift, (price, size) ride unchanged — each
    * replica re-plants the SAME Pareto frontier, so the skyline OUTPUT
    * grows by the factor while the dominated mass (the pruning claim
    * under test) grows identically. */
  private def buildPartFixture(spark: SparkSession, src: String,
      out: String, factor: Int): Unit = {
    // v2 marker (r15 part 4): + p_brand (the Q19 clause key; replicas
    // repeat the base brand distribution under shifted part keys)
    val fs = new java.io.File(s"$out/_built_part_v2_x$factor")
    if (fs.exists()) return
    new java.io.File(out).mkdirs()
    val base = spark.read.parquet(s"$src/part.parquet")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"),
        col("p_brand"))
    val replicated = (0 until factor).map { i =>
      base.select(
        (col("p_partkey") + lit(i.toLong * 1000000000L)).as("p_partkey"),
        col("p_retailprice"), col("p_size"), col("p_brand"))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/part.parquet")
    fs.createNewFile(): Unit
  }

  /** Rotation + rep-seeded sign flips: orthogonal, so norm and
    * within-replica cosine structure are preserved; distinct reps are
    * decorrelated even when rep ≥ dim (where bare rotation wraps to
    * the identity). */
  private[examples] def mutateEmbedding(e0: Seq[Float], rep: Int): Seq[Float] = {
    val e = e0.toArray // UDF Seq inputs index in linear time — bulk-copy
    val d = e.length
    val r = rep % math.max(d, 1)
    val rnd = new java.util.Random(rep.toLong * 2654435761L)
    val out = new Array[Float](d)
    var j = 0
    while (j < d) {
      val sign = if (rnd.nextBoolean()) 1f else -1f
      out(j) = e((j + r) % d) * sign
      j += 1
    }
    out.toSeq
  }

  def buildFixture(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val fs = new java.io.File(s"$out/_built_x$factor")
    if (fs.exists()) return
    new java.io.File(out).mkdirs()

    // Seeded Fisher-Yates over the token sequence: the token HISTOGRAM
    // (quality/repetition distributions) is preserved exactly, but
    // every 3-gram shingle changes — a cyclic rotation would NOT do
    // (it preserves all interior n-grams: measured Jaccard(base,
    // rotated) ≈ 0.9, i.e. every replica a planted near-dup —
    // ScaleStressSpec asserts the shuffled form stays < 0.5 for 99%).
    val shuffleTokens = udf { (text: String, docId: Long, rep: Int) =>
      val t = text.split("\\s+")
      val r = new java.util.Random(docId * 1315423911L + rep)
      var i = t.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val tmp = t(i); t(i) = t(j); t(j) = tmp
        i -= 1
      }
      t.mkString(" ")
    }
    val docs = Tables.documents(spark, src)
    // stride derived from the source (ADVICE r9, same as events/emb)
    val docStride = math.max(1000000000L,
      docs.agg(max("doc_id")).head.getLong(0) + 1L)
    val replicated = (0 until factor).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i.toLong * docStride)).as("doc_id"),
        shuffleTokens(col("text"), col("doc_id"), lit(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // Orthogonal per-replica transform: rotate by (rep mod dim) AND
    // flip a rep-seeded sign pattern. Pure rotation alone degenerates
    // at factor > dim (rotation by dim == identity -> planted EXACT
    // dups from replica 63 up on the 64-dim fixture); the sign flips
    // keep every replica pair decorrelated at any factor while the
    // transform stays orthogonal (norms and within-replica pairwise
    // cosines preserved exactly — same distribution, bigger corpus).
    val mutateVec = udf { (e: Seq[Float], rep: Int) => mutateEmbedding(e, rep) }
    val emb = Tables.embeddings(spark, src)
    // stride derived from the source (ADVICE r9): a fixed 1e9 shift
    // silently aliases replica id ranges once source ids reach 1e9
    // (chained scale-ups), flattening the expected group-count growth
    val embStride = math.max(1000000000L,
      emb.agg(max("vec_id")).head.getLong(0) + 1L)
    val replicatedEmb = (0 until factor).map { i =>
      if (i == 0) emb
      else emb.select(
        (col("vec_id") + lit(i.toLong * embStride)).as("vec_id"),
        mutateVec(col("embedding"), lit(i)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    replicatedEmb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    fs.createNewFile(): Unit
  }

  /** Replicate events.parquet: each replica shifts user_id (fresh users,
    * so funnel/retention/MAD group counts scale with the factor) and
    * event_id; timestamps and the event-type mix stay as-is — the same
    * 30-day window with factor× the users is exactly how a telemetry
    * stream grows. Separate marker: derived docs/emb fixtures predate
    * this and stay valid. */
  private def buildEventsFixture(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val fs = new java.io.File(s"$out/_built_events_x$factor")
    if (fs.exists()) return
    new java.io.File(out).mkdirs()
    val ev = Tables.events(spark, src)
    // stride derived from the source (ADVICE r9): fixed 1e9 would alias
    // replica ranges — and collapse "fresh users" — once source ids
    // reach 1e9 on larger or chained fixtures
    val mx = ev.agg(max("event_id"), max("user_id")).head
    val stride = math.max(1000000000L,
      math.max(mx.getLong(0), mx.getLong(1)) + 1L)
    val replicated = (0 until factor).map { i =>
      if (i == 0) ev
      else ev.select(
        (col("event_id") + lit(i.toLong * stride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/events.parquet")
    fs.createNewFile(): Unit
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 10
    val out = if (args.length > 1) args(1) else s"/root/repo/target/sfx$factor"
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    // optional 4th arg: comma-separated subset of `heavy` (chunked runs)
    val names = if (args.length > 3) args(3).split(',').toSeq else heavy
    // factor>=100 needs partitions ∝ data at the fixed core count
    // (SPARK_GRAFT_SHUFFLE_PARTITIONS; AQE coalesces the small stages
    // back down)
    val spark = graft.Session.local()

    // r19: the documents/embeddings/events replicas are the expensive
    // builds at factor 1000; skip them when every requested row is
    // relational-only (the ext_pagerank scale run reads just the
    // lineitem+orders fixtures its own conditional block builds below)
    val relationalOnly = Set("ext_pagerank", "ext_pagerank_personalized",
      "ext_triangle_count", "ext_clustering_coeff", "ext_kcore",
      "kcore_scale", "ext_link_prediction", "ext_bfs_distance",
      "ext_random_walk", "ext_copurchase_pairs", "ext_mst_backbone",
      "ext_assortativity", "etl_snapshot_diff", "etl_reconcile_totals",
      "profile_histogram_eqdepth", "ext_skyline", "sql_tpch_q1",
      "sql_tpch_q19", "skew_join_scale", "graph_pagerank_scale",
      "graph_labelprop_scale", "cc_scale")
    val needsCorpus = !names.forall(relationalOnly)
    if (needsCorpus) {
      buildFixture(spark, src, out, factor)
      buildEventsFixture(spark, src, out, factor)
    }
    val nDocs = if (needsCorpus)
      spark.read.parquet(s"$out/documents.parquet").count() else 0L
    val nVecs = if (needsCorpus)
      spark.read.parquet(s"$out/embeddings.parquet").count() else 0L

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val byName = SparkEntry.defs.map(q => q.name -> q).toMap
    // pseudo-names select extra gate blocks below without timing the
    // corresponding full-batch registry row; anything else unrecognized
    // is a typo — fail fast rather than silently drop the timing row
    val pseudoNames = Set("ivf_recall", "ann_recall", "emb_kmeans_scale",
      "emb_pca_scale",
      "emb_pq_scale", "emb_ivfpq_scale", "graph_pagerank_scale",
      "graph_labelprop_scale", "er_matches_scale", "ivf_router_scale", "cc_scale",
      "setsim_fallback_scale", "kcore_scale", "bpe_scale",
      "pca_highdim_scale", "skew_join_scale")
    // the kNN-graph registry rows read lineitem, which the base fixture
    // does not replicate — build the 2-column projection on demand
    val graphNames = Set("ext_triangle_count", "ext_clustering_coeff",
      "ext_kcore", "kcore_scale", "ext_link_prediction", "ext_bfs_distance",
      "ext_random_walk", "ext_copurchase_pairs", "ext_mst_backbone",
      "ext_assortativity")
    if (names.exists(graphNames)) buildLineitemFixture(spark, src, out, factor)
    // r15 audit/skyline rows: header + detail-money + part fixtures
    if (names.contains("etl_reconcile_totals") || names.contains("sql_tpch_q1")
        || names.contains("sql_tpch_q19"))
      buildLineitemFixture(spark, src, out, factor)
    if (names.contains("etl_snapshot_diff") || names.contains("etl_reconcile_totals")
        || names.contains("profile_histogram_eqdepth"))
      buildOrdersFixture(spark, src, out, factor)
    if (names.contains("ext_skyline") || names.contains("sql_tpch_q19"))
      buildPartFixture(spark, src, out, factor)
    // r19 (VERDICT r18 item 3): the REGISTRY ext_pagerank row at scale —
    // its orders⋈lineitem trade-graph prologue needs both fixtures.
    // r20 (ADVICE r19): the personalized row shares the prologue AND
    // reads customer from the out dir for its seed set — gate covers
    // it, plus the customer replica its seed join needs.
    if (names.contains("ext_pagerank")
        || names.contains("ext_pagerank_personalized")) {
      buildLineitemFixture(spark, src, out, factor)
      buildOrdersFixture(spark, src, out, factor)
    }
    if (names.contains("ext_pagerank_personalized"))
      buildCustomerFixture(spark, src, out, factor)
    val unknown = names.filterNot(n => byName.contains(n) || pseudoNames(n))
    require(unknown.isEmpty,
      s"unknown query names (not in SparkEntry.defs or $pseudoNames): ${unknown.mkString(",")}")
    // disk-bound rows at factor 1000 can't afford two reps' worth of
    // accumulated shuffle files; SPARK_GRAFT_SCALE_REPS=1 trades the
    // min-of-2 discipline for half the peak spill (note it in SCALE.md)
    val reps = sys.env.get("SPARK_GRAFT_SCALE_REPS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(2)
    names.filter(byName.contains).foreach { name =>
      val q = byName(name)
      var best = Double.MaxValue
      var rep = 0
      var failed = false
      while (rep < reps && !failed) {
        val t0 = System.nanoTime()
        try {
          q.run(spark, out).write.format("noop").mode("overwrite").save()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            failed = true
        }
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        // drop the rep's shuffle dependencies so the ContextCleaner can
        // reclaim its shuffle files before the next rep doubles them
        System.gc()
        rep += 1
      }
      if (!failed) {
        timings(name) = best
        System.err.println(f"[scale] $name: $best%.2f s")
      } else System.err.println(s"[scale] $name FAILED: ${errors(name)}")
    }

    // The production scaling knob: IVF nCells ∝ corpus size keeps cell
    // cardinality constant, so per-query probe cost is flat and total
    // batch cost grows ~linearly with |Q|. Since round 7 this IS the
    // registry default (Similarity.autoNCells — knob auto-scaling), so
    // this block measures the same auto path explicitly and gates the
    // recall claim.
    if (names.contains("ext_ivf_topk_batch")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Similarity
          .ivfTopK(embS, queries = embS.select("vec_id"), k = 10) // auto knobs
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("ext_ivf_topk_batch_tuned") = best
      System.err.println(
        f"[scale] ext_ivf_topk_batch_tuned (auto nCells=${graft.ext.Similarity.autoNCells(embS.count())}): $best%.2f s")
    }

    // Recall gate, runnable WITHOUT the (factor²-cost) full-corpus
    // batch timing above — pass the pseudo-name "ivf_recall" for the
    // 100×-and-up columns where only the gate matters (r8 item 7).
    if (names.contains("ext_ivf_topk_batch") || names.contains("ivf_recall")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      // the cost claim above is honest only next to a recall number at
      // the SAME scale: 50-query sample, tuned-IVF top-10 vs the exact
      // brute-force top-10 (1M-pair cross join — probe-sized, not a
      // benchmark)
      graft.functions.GraftFunctions.ensureRegistered(spark)
      val qids = embS.select("vec_id").orderBy("vec_id").limit(50)
      val qside = embS.join(broadcast(qids), "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val corpus = embS.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val exact = broadcast(qside).join(corpus, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), expr("cosine_sim(qe, ce)").as("cos"))
        .groupBy("qid").agg(expr("topk_by_score(cos, cid, 10)").as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val tIvf0 = System.nanoTime()
      val ivf = graft.ext.Similarity
        .ivfTopK(embS, queries = qids, k = 10) // auto knobs
        .select("qid", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivfSec = (System.nanoTime() - tIvf0) / 1e9
      val recall = (ivf & exact).size.toDouble / math.max(exact.size, 1)
      timings("ext_ivf_topk_batch_tuned_recall") = recall
      timings("ivf_recall_sampled") = ivfSec
      System.err.println(
        f"[scale] auto-IVF sampled (50 q): $ivfSec%.2f s, recall@10 vs exact: $recall%.3f")
      // the auto-knob contract (VERDICT r5/r6 task 4): at the 10x
      // fixture and beyond, auto params must hold recall@10 >= 0.95 —
      // fail the run loudly, not silently, if scaling breaks it
      require(factor < 10 || recall >= 0.95,
        f"auto-IVF recall@10 $recall%.3f < 0.95 at factor $factor%d")
    }

    // BRP sampled recall + wall (r17, VERDICT r16 item 7): the
    // full-corpus batch above is factor²-cost, so the fourth-decade
    // column runs the SAME 50-query sample as ivf_recall through the
    // auto-knob BRP path and gates recall@10 vs exact cosine. Note the
    // auto bucketLength law floors at 0.1 (r17 revision; binds past
    // n ≈ 4500) — past the floor the buckets are WIDER than 1/sqrt(n)
    // would give, so candidate volume per query grows with density
    // (recall holds, cost grows); the wall number measures that trade.
    if (names.contains("ann_recall")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      val nEmb = embS.count()
      graft.functions.GraftFunctions.ensureRegistered(spark)
      val qids = embS.select("vec_id").orderBy("vec_id").limit(50)
      val bl = graft.ext.Similarity.autoBucketLength(nEmb)
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Similarity
          .annTopK(embS, queries = qids, k = 10, bucketLength = bl,
            numTables = 8, maxDistance = 2.0)
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("ann_recall_sampled") = best
      val qside = embS.join(broadcast(qids), "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val corpus = embS.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val exact = broadcast(qside).join(corpus, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), expr("cosine_sim(qe, ce)").as("cos"))
        .groupBy("qid").agg(expr("topk_by_score(cos, cid, 10)").as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ann = graft.ext.Similarity
        .annTopK(embS, queries = qids, k = 10, bucketLength = bl,
          numTables = 8, maxDistance = 2.0)
        .select("qid", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      val recall = (ann & exact).size.toDouble / math.max(exact.size, 1)
      timings("ann_recall_sampled_recall") = recall
      System.err.println(
        f"[scale] BRP annTopK sampled (bucketLength=$bl%.3f): $best%.2f s, recall@10 vs exact: $recall%.3f")
      require(factor < 10 || recall >= 0.95,
        f"auto-BRP recall@10 $recall%.3f < 0.95 at factor $factor%d")
    }

    // Same demo for the BRP path: the collision rate (and so candidate
    // volume per query) is governed by bucketLength — narrow it as the
    // corpus densifies. Cost-only measurement; the recall/width
    // trade-off is characterized in ExtSpec at oracle scale.
    if (names.contains("ext_ann_topk_batch")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      val nEmb = embS.count()
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Similarity
          .annTopK(embS, queries = embS.select("vec_id"),
            k = 10, bucketLength = graft.ext.Similarity.autoBucketLength(nEmb),
            numTables = 8, maxDistance = 2.0)
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("ext_ann_topk_batch_tuned") = best
      System.err.println(f"[scale] ext_ann_topk_batch_tuned (auto bucketLength=${graft.ext.Similarity.autoBucketLength(nEmb)}%.3f): $best%.2f s")
    }

    // Third knob: the embedding-dedup AND-amplification width. Bucket
    // occupancy (and so Σ bucket² candidate volume) grows with corpus
    // density at fixed params; one more projection per composite key
    // (6 -> 8) re-tightens the buckets.
    if (names.contains("emb_dedup_lsh")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Dedup
          .cosineCanonicalLsh(embS, threshold = 0.9) // auto AND-width
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("emb_dedup_lsh_tuned") = best
      System.err.println(
        f"[scale] emb_dedup_lsh_tuned (auto hashesPerTable=${graft.ext.Similarity.autoHashesPerTable(embS.count())}): $best%.2f s")
    }

    // k-means / PCA at scale: the registry rows (emb_kmeans,
    // emb_covariance) run the sorted-fold ORACLE discipline, whose
    // collect_list is cluster-sized — deliberately fixture-only. These
    // pseudo-names time the production paths instead: plain-mean Lloyd
    // (map-side-combinable update, codegen assign) and the one-pass
    // treeAggregate covariance + Jacobi + broadcast projection.
    if (names.contains("emb_kmeans_scale")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Embeddings.lloyd(embS, k = 8, iters = 2)
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("emb_kmeans_scale") = best
      System.err.println(f"[scale] emb_kmeans_scale (k=8, 2 sweeps, plain-mean): $best%.2f s")
    }
    if (names.contains("emb_pq_scale")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Embeddings.pqEncode(embS)
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("emb_pq_scale") = best
      System.err.println(f"[scale] emb_pq_scale (m=8 ksub=16, 2 sweeps): $best%.2f s")
    }
    if (names.contains("emb_pca_scale")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        val (proj, _) = graft.ext.Embeddings.pcaProject(embS, k = 2)
        proj.write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("emb_pca_scale") = best
      System.err.println(f"[scale] emb_pca_scale (one-pass cov + project): $best%.2f s")
    }

    // r16 (VERDICT r15 item 1): the d > 1024 distributed PCA path —
    // JL-lift the fixture to 1536 dims, then subspace iteration whose
    // every Cov·Q product is one treeAggregate pass (d x k accumulator,
    // no d x d matrix anywhere). Expected ~linear in rows with a FLAT
    // pass count (the spectrum, not the corpus size, bounds
    // iterations); the persisted expanded corpus is the working set
    // (n x 1536 doubles — on a real cluster it spreads across
    // executors, here MEMORY_AND_DISK spills past ~500k rows).
    if (names.contains("pca_highdim_scale")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        val lifted = graft.ext.Embeddings.jlExpand(embS, 1536, 64)
        val (proj, _) = graft.ext.Embeddings.pcaProject(lifted, k = 4)
        proj.write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("pca_highdim_scale") = best
      System.err.println(
        f"[scale] pca_highdim_scale (d=1536 lift + power iteration, k=4): $best%.2f s")
    }

    // r16 (VERDICT r15 item 5): the hot-key join decade — 30% of all
    // events collapse onto ONE user, joined to the unreplicated
    // customer dim with broadcast disabled (the 100 TB regime where
    // both sides shuffle). Three treatments of the same data:
    //   straggler — plain shuffle join, AQE skew handling OFF: one
    //     reduce task owns the hot key's entire fan-in;
    //   salted — the join_skew_salted registry shape (dim replicated
    //     over 8 salts, fact scattered by event_id): the hot key
    //     spreads over 8 tasks by construction, works for ANY join
    //     impl;
    //   aqe — sort-merge with OptimizeSkewedJoin ON at default
    //     thresholds: fires only once the hot partition crosses 256 MB
    //     (the honest finding: at small factors AQE leaves the skew
    //     alone and the salt is the only lever).
    if (names.contains("skew_join_scale")) {
      // r20 (ADVICE r19): this gate is relational-only runnable, so the
      // top-of-run corpus/events build may have been skipped — build the
      // events replica here (the _built marker makes it idempotent when
      // the full build already ran)
      buildEventsFixture(spark, src, out, factor)
      val evS = spark.read.parquet(s"$out/events.parquet").select(
        when(col("event_id") % 10 < 3, lit(7L))
          .otherwise(col("user_id")).as("uid"),
        col("event_id"), col("value"))
      val users = Tables.customer(spark, src)
        .select(col("c_custkey").as("uid"), col("c_mktsegment"))
      val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val savedSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
      def agg(j: DataFrame): DataFrame = j.groupBy("c_mktsegment")
        .agg(sum(col("value")).as("revenue"), count(lit(1)).as("n_events"))
      def time2(label: String)(mk: => DataFrame): Unit = {
        var best = Double.MaxValue
        var rep = 0
        while (rep < 2) {
          val t0 = System.nanoTime()
          mk.write.format("noop").mode("overwrite").save()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
          rep += 1
        }
        timings(label) = best
        System.err.println(f"[scale] $label: $best%.2f s")
      }
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        time2("skew_join_straggler") {
          agg(evS.join(users.hint("SHUFFLE_HASH"), Seq("uid")))
        }
        time2("skew_join_salted") {
          val salts = 8
          val fact = evS.withColumn("salt",
            pmod(col("event_id"), lit(salts)).cast("int"))
          val dim = users.withColumn("salt",
            explode(sequence(lit(0), lit(salts - 1))))
          agg(fact.join(dim.hint("SHUFFLE_HASH"), Seq("uid", "salt")))
        }
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        time2("skew_join_aqe") {
          agg(evS.join(users, Seq("uid")))
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", savedSkew)
      }
    }

    // IVF-PQ (r10): cost of the full residual-code + ADC + refine path
    // on a 50-query batch at auto coarse knobs, PLUS the recall gate vs
    // exact brute force — the refine re-rank must hold recall@10 even
    // as the corpus densifies (shortlist covers more near-ties).
    if (names.contains("emb_ivfpq_scale")) {
      val embS = spark.read.parquet(s"$out/embeddings.parquet")
      graft.functions.GraftFunctions.ensureRegistered(spark)
      val qids = embS.select("vec_id").orderBy("vec_id").limit(50)
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Embeddings.ivfPqTopK(embS, qids, k = 10)
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("emb_ivfpq_scale") = best
      // recall vs exact squared-L2 top-10 over the same 50 queries
      val qside = embS.join(broadcast(qids), "vec_id")
        .select(col("vec_id").as("qid"),
          transform(col("embedding"), x => x.cast("double")).as("qe"))
      val corpus = embS.select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
      val exact = broadcast(qside).join(corpus, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), expr("squared_l2(qe, ce)").as("dd"))
        .groupBy("qid").agg(expr("topk_by_score(-dd, cid, 10)").as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = graft.ext.Embeddings.ivfPqTopK(embS, qids, k = 10)
        .select("qid", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      val recall = (approx & exact).size.toDouble / math.max(exact.size, 1)
      timings("emb_ivfpq_scale_recall") = recall
      System.err.println(
        f"[scale] emb_ivfpq_scale: $best%.2f s, recall@10 vs exact: $recall%.3f")
      // r17: the auto-refine contract (constant shortlist fraction —
      // Embeddings.autoRefine) must hold recall as the corpus densifies;
      // the fixed refine=16 it replaced measured 0.448 at the 2M gate
      require(factor < 10 || recall >= 0.9,
        f"IVF-PQ auto-refine recall@10 $recall%.3f < 0.9 at factor $factor%d")
    }

    // PageRank (r10): the fixture has no link tables, so synthesize a
    // hash-derived edge list ∝ factor (n = 20k·factor nodes, 6 directed
    // edges per node incl. a back-edge so no dangling mass) and time 3
    // sweeps of the production loop. Pure cost curve — correctness is
    // the oracle row + GraphSpec.
    if (names.contains("graph_pagerank_scale")) {
      val n = 20000L * factor
      val base = spark.range(n).select(col("id"))
      val edges = base.select(explode(array(
          struct(col("id").as("src"), pmod(xxhash64(col("id"), lit(1)), lit(n)).as("dst")),
          struct(col("id").as("src"), pmod(xxhash64(col("id"), lit(2)), lit(n)).as("dst")),
          struct(col("id").as("src"), ((col("id") + 1) % n).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val sym = edges.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        // 6n directed edges, known exactly -> edgeRowsHint picks the
        // co-partition layout up front (single-copy pin; ADVICE r19)
        graft.ext.Graph.pageRank(sym, iters = 3, edgeRowsHint = Some(6L * n))
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("graph_pagerank_scale") = best
      System.err.println(
        f"[scale] graph_pagerank_scale (${n * 6} directed edges, 3 sweeps): $best%.2f s")
    }

    // Label propagation on the same synthetic graph shape as the
    // pagerank block (n nodes, 6n directed edges): one sweep = one
    // (dst,label) map-side-combinable count + node-keyed window + left
    // join — slope should track pageRank's (both scan edges once per
    // sweep, all shuffles node-keyed).
    if (names.contains("graph_labelprop_scale")) {
      val n = 20000L * factor
      val base = spark.range(n).select(col("id"))
      val edges = base.select(explode(array(
          struct(col("id").as("a"), pmod(xxhash64(col("id"), lit(1)), lit(n)).as("b")),
          struct(col("id").as("a"), pmod(xxhash64(col("id"), lit(2)), lit(n)).as("b")),
          struct(col("id").as("a"), ((col("id") + 1) % n).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val sym = edges.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val nodes = base.select(col("id").as("node"))
      var best = Double.MaxValue
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        graft.ext.Graph.labelPropagation(nodes, sym, iters = 3,
            edgeRowsHint = Some(6L * n))
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      timings("graph_labelprop_scale") = best
      System.err.println(
        f"[scale] graph_labelprop_scale (${n * 6} directed edges, 3 sweeps): $best%.2f s")
    }

    // ER candidate discipline at scale (r10, VERDICT r9 item 4): a
    // part-like table ∝ factor with PLANTED 1-edit pairs (n/2 true
    // matches by construction; cross-group names are >= 4 edits apart
    // because the group id appears 5 times). maxBlock = 500 so the 1×
    // run exercises the exact path (80-row brand blocks) and 10×/100×
    // (800/8000-row blocks) trip the LSH fallback — pair count must
    // stay ~n/2 (recall) and wall ~linear, where the uncapped exact
    // join's pair space grows ~factor².
    if (names.contains("er_matches_scale")) {
      val n = 2000L * factor
      val g = (col("id") / 2).cast("long")
      val colorArr = array(Seq("almond", "antique", "aquamarine", "azure",
        "beige", "bisque", "blanched", "blush").map(lit): _*)
      val baseName = concat_ws(" ",
        element_at(colorArr, (pmod(xxhash64(g, lit(1)), lit(8)) + 1).cast("int")),
        element_at(colorArr, (pmod(xxhash64(g, lit(2)), lit(8)) + 1).cast("int")),
        concat(g, lit("v"), g, lit("x"), g, lit("y"), g, lit("z"), g))
      val parts = spark.range(n).select(
        col("id").as("p_partkey"),
        concat(lit("Brand#"), pmod(g, lit(25))).as("p_brand"),
        when(col("id") % 2 === 0, baseName)
          .otherwise(concat(baseName.substr(lit(1), length(baseName) - 1),
            lit("q"))).as("p_name"))
      var best = Double.MaxValue
      var found = 0L
      var rep = 0
      while (rep < 2) {
        val t0 = System.nanoTime()
        found = graft.ext.Graph.erMatches(parts, maxBlock = 500).count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        rep += 1
      }
      val recall = found.toDouble / (n / 2)
      timings("er_matches_scale") = best
      timings("er_matches_scale_pairs") = found.toDouble
      timings("er_matches_scale_recall") = recall
      System.err.println(
        f"[scale] er_matches_scale (n=$n, cap 500): $best%.2f s, " +
          f"$found pairs of ${n / 2} planted, recall $recall%.3f")
    }

    // Two-level coarse router (r10): measure the assign/probe cost cut
    // at a cell count past the threshold. nCells=8192 on the replicated
    // embedding fixture is the regime the router exists for (the flat
    // per-row scan is 8192 dists; routed ≈ 91 groups + 8·~90 members).
    // Same query set both ways; both are then gated on RECALL vs the
    // exact brute-force truth (routed within 0.05 of flat) — see the
    // comment at the gate below.
    if (names.contains("ivf_router_scale")) {
      import graft.ext.Similarity
      val emb = spark.read.parquet(s"$out/embeddings.parquet")
      val queries = emb.select("vec_id").orderBy("vec_id").limit(50)
      def runOnce(threshold: Int): (Double, Set[(Long, Long)]) = {
        Similarity.withTwoLevelThreshold(threshold) {
          try {
            val t0 = System.nanoTime()
            val res = Similarity.ivfTopK(emb, queries, k = 10,
                nCells = 8192, nProbe = 32)
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            ((System.nanoTime() - t0) / 1e9, res)
          } finally {
            spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
          }
        }
      }
      val (flatS, flatRes) = runOnce(Int.MaxValue)
      val (routedS, routedRes) = runOnce(1)
      // judge both against the EXACT brute-force truth — flat IVF is
      // itself an approximation (32 of 8192 lists probed), so mutual
      // agreement conflates two independent miss sets; what the router
      // must preserve is recall, not the identical miss pattern
      val qIds = queries.collect().map(_.getLong(0))
      val all = emb.select("vec_id", "embedding").collect().map { r =>
        val a = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(a.map(x => x * x).sum)
        (r.getLong(0), if (n == 0) a else a.map(_ / n))
      }
      val byId = all.toMap
      val truth = qIds.flatMap { q =>
        val qv = byId(q)
        all.iterator.filter(_._1 != q).map { case (id, v) =>
          var s = 0.0; var i = 0
          while (i < qv.length) { s += qv(i) * v(i); i += 1 }
          (id, s)
        }.toArray.sortBy(p => (-p._2, p._1)).take(10).map(p => (q, p._1))
      }.toSet
      val rFlat = (flatRes & truth).size.toDouble / truth.size
      val rRouted = (routedRes & truth).size.toDouble / truth.size
      require(rRouted >= rFlat - 0.05,
        f"two-level router lost recall: $rRouted%.3f vs flat $rFlat%.3f")
      timings("ivf_router_scale_flat") = flatS
      timings("ivf_router_scale_routed") = routedS
      timings("ivf_router_scale_recall_flat") = rFlat
      timings("ivf_router_scale_recall_routed") = rRouted
      System.err.println(
        f"[scale] ivf_router_scale (nCells=8192): flat $flatS%.2f s " +
          f"recall $rFlat%.3f, routed $routedS%.2f s recall $rRouted%.3f " +
          f"(${flatS / routedS}%.1f× wall)")
    }

    // Connected components at scale (r11, VERDICT r10 item 1 "Done"):
    // a planted graph ∝ the fixture (nodes = nDocs), half 1000-node
    // CHAINS — the O(diameter) killer that the old min-label sweep
    // could not finish inside maxIter=50 at ANY size — and half 8-node
    // cliques (the near-dup blob shape). Reports wall + the
    // large-star/small-star ROUND count (expected ~log2(1000) ≈ 10,
    // flat in the factor) and REQUIREs the exact component count.
    if (names.contains("cc_scale")) {
      import spark.implicits._
      // r20 (ADVICE r19): cc_scale is relational-only runnable, so
      // nDocs is 0 when the corpus build was skipped — size the planted
      // graph from the SOURCE document count × factor instead (the
      // nDocs-equivalent; metadata-cheap parquet count), so the graph
      // keeps scaling with the requested factor either way
      val ccDocs = if (nDocs > 0) nDocs
        else spark.read.parquet(s"$src/documents.parquet").count() * factor
      // round UP to a multiple of 1000: a trailing 1-node chain block
      // emits no edge, so connectedComponents never reports it and the
      // expected-count require would fail spuriously whenever
      // half % 1000 == 1 (ADVICE r11)
      val half = ((math.max(ccDocs / 2, 2000L) + 999L) / 1000L) * 1000L
      val chains = spark.range(half - 1).filter(col("id") % 1000 =!= 999)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      val bs = 8
      val pairsDf = (for { i <- 0 until bs; j <- (i + 1) until bs }
        yield (i, j)).toDF("i", "j")
      val cliques = spark.range(half / bs).crossJoin(pairsDf)
        .select((lit(half) + col("id") * bs + col("i")).as("doc_a"),
          (lit(half) + col("id") * bs + col("j")).as("doc_b"))
      val edges = chains.unionByName(cliques).cutLineage()
      val expected = (half + 999) / 1000 + half / bs
      var best = Double.MaxValue
      var rounds = -1
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val (cc, r) = graft.ext.Dedup.connectedComponentsWithRounds(edges)
        val comps = cc.select("component").distinct().count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        rounds = r
        require(comps == expected,
          s"cc_scale: $comps components, expected $expected")
        graft.ext.Caches.releaseAll(spark)
      }
      timings("cc_scale") = best
      timings("cc_scale_rounds") = rounds.toDouble
      System.err.println(
        f"[scale] cc_scale (${half * 2} nodes, 1000-chains + 8-cliques): " +
          f"$best%.2f s in $rounds rounds")
    }

    // Exact-setsim LSH fallback (r14, VERDICT r12 item 1 "Done"): the
    // vocabulary-dense derived fixture is exactly the regime where the
    // exact path's candidate mass goes quadratic (measured 2.04G
    // candidates at 100× in r12) — the fallback must COMPLETE there.
    // maxCandidatePairs=0 forces the fallback at every factor so the
    // 10× column can also measure its recall against the exact truth
    // (at 100× the truth itself is the 2G-candidate job — recall is
    // measured where the exact join is tractable).
    if (names.contains("setsim_fallback_scale")) {
      val docs = spark.read.parquet(s"$out/documents.parquet")
      val sh = docs.select(col("doc_id"),
        explode(graft.functions.TextShingles.shingle3(
          split(col("text"), "\\s+"))).as("shingle"))
      var best = Double.MaxValue
      var nPairs = 0L
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        nPairs = graft.queries.SetSimQ
          .setSimJoin(sh, 4, 5, maxCandidatePairs = 0L).count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      }
      timings("setsim_fallback_scale") = best
      timings("setsim_fallback_scale_pairs") = nPairs.toDouble
      System.err.println(
        f"[scale] setsim_fallback_scale: $best%.2f s, $nPairs pairs (forced LSH path)")
      if (factor <= 10) {
        val truth = graft.queries.SetSimQ
          .setSimJoinExact(sh, 4, 5, maxCandidatePairs = Long.MaxValue)
          .select("doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        val fb = graft.queries.SetSimQ
          .setSimJoin(sh, 4, 5, maxCandidatePairs = 0L)
          .select("doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
        require(fb.subsetOf(truth),
          s"setsim fallback emitted ${fb.diff(truth).size} false positives")
        val recall = if (truth.isEmpty) 1.0
          else (fb & truth).size.toDouble / truth.size
        timings("setsim_fallback_scale_recall") = recall
        System.err.println(
          f"[scale] setsim_fallback recall vs exact: $recall%.3f (${truth.size} true pairs)")
      }
    }

    // k-core peel convergence gate (r14): the ext_kcore registry row's
    // fixed 16-round truncation is exact iff the peel converges in
    // budget — require rounds-8 == rounds-16 output on the fixture
    // graph (convergence by 8), and report the edge count the peels
    // chew through.
    if (names.contains("kcore_scale")) {
      import org.apache.spark.sql.expressions.Window
      val li = spark.read.parquet(s"$out/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val co = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey")
            && col("x.l_suppkey") =!= col("y.l_suppkey"))
        .groupBy(col("x.l_suppkey").as("u"), col("y.l_suppkey").as("v"))
        .agg(count(lit(1)).as("c"))
      val und = co
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(col("c").desc, col("v"))))
        .filter(col("rn") <= 3)
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct().cutLineage()
      val nEdges = und.count()
      var best = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        graft.ext.Graph.corenessCapped(und, kMax = 4, rounds = 16)
          .write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      }
      val c16 = graft.ext.Graph.corenessCapped(und, 4, 16)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val c8 = graft.ext.Graph.corenessCapped(und, 4, 8)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      require(c8 == c16,
        s"kcore peel not converged by 8 rounds (${c8.size} vs ${c16.size} nodes)")
      timings("kcore_scale") = best
      timings("kcore_scale_edges") = nEdges.toDouble
      System.err.println(
        f"[scale] kcore_scale ($nEdges edges): $best%.2f s, converged <= 8 rounds")
    }

    // BPE training curve (r14): times Bpe.train DIRECTLY — the
    // registry row memoizes its merge table per (session, dir), so
    // timing it through the registry measures the cache on rep 2.
    // Expected shape: the word-count prelude is linear in corpus
    // bytes, the 12-step argmax loop is vocab-sized (constant on the
    // replicated fixture) — so wall should grow far slower than the
    // corpus.
    if (names.contains("bpe_scale")) {
      val docs = spark.read.parquet(s"$out/documents.parquet")
      var best = Double.MaxValue
      var nWords = 0L
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val (merges, seqd) = graft.ext.Bpe.train(docs, 12)
        nWords = seqd.select("word").distinct().count()
        require(merges.length == 12)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
      }
      timings("bpe_scale") = best
      timings("bpe_scale_vocab") = nWords.toDouble
      System.err.println(
        f"[scale] bpe_scale: $best%.2f s train ($nWords-word vocab)")
    }

    val qs = timings.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) =>
      s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"").take(200)}"""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_stress","factor":$factor,"n_docs":$nDocs,"n_vecs":$nVecs,"queries":$qs,"errors":$es}""")
    spark.stop()
  }
}
