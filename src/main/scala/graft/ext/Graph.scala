package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Checkpoints.CutOps

/** Iterative link-graph analytics. The concrete consumer is web-corpus
  * curation: link centrality is a standard document-quality prior at
  * pretraining scale (Common Crawl ranks hosts by harmonic centrality;
  * OPIC/PageRank variants gate crawl frontiers), so a training-data
  * engine needs a rank pass over a billion-edge host graph.
  *
  * Scale shape: one iteration = one equi-join of the edge list with the
  * node-sized rank frame plus one map-side-combinable aggregation keyed
  * by dst — the canonical Spark PageRank plan. Edges are the only large
  * input and are scanned once per iteration on the same join key (src),
  * so pre-partitioning/bucketing the edge list by src makes every
  * iteration co-located at cluster scale; ranks/degrees are node-sized.
  * No Window, no driver-side state beyond the node count. Rank sums are
  * decimal-accumulated (see [[graft.Det]]) so results are bit-stable
  * across partitionings and engines.
  */
object Graph {

  /** Below this many edge rows the pinned frame is left UN-partitioned:
    * a fixed partitioning disables AQE's shuffle coalescing for every
    * per-sweep exchange that must align with it, and at fixture scale
    * that costs more in per-task scheduling than the re-shuffles it
    * avoids (measured r19: ext_pagerank_personalized 5.3 → 8.5 s at
    * sf0.1 with unconditional co-partitioning). Above it, the static
    * hash layout wins and keeps winning to 1B+ rows (48.4 vs 58.1 s at
    * 120M edges; at 1.17B the un-partitioned form out-spilled the
    * disk). The gate reads the row count pin() materializes anyway. */
  val copartitionMinRows: Long = 10000000L

  /** Pin a loop-invariant frame, hash-partitioned on its per-sweep
    * equi-join key when it is large (r19): without the partitioning,
    * every sweep's join re-exchanges the EDGE-sized side — at factor
    * 1000 (~1B edge rows) the accumulated per-sweep shuffle files
    * exceeded the box's disk before the third sweep. Partitioned once,
    * the cached frame's hash(key) output partitioning satisfies every
    * sweep's join requirement and the degree aggregation, so the
    * node-sized rank frame is the only thing that moves per sweep
    * (plus the one unavoidable edge-sized groupBy(dst) transpose).
    * This is the module-scaladoc "pre-partition the edge list by src"
    * claim made actual; on a real cluster it is the difference between
    * shuffling the 100 TB edge list once and shuffling it every sweep.
    * Below [[copartitionMinRows]] the frame is pinned as-is — the
    * fixture-scale regime where AQE coalescing beats a fixed layout.
    *
    * `sizeHint` (r20, ADVICE r19): a caller-supplied row-count estimate
    * — typically an UPPER BOUND from a metadata-cheap parquet count of
    * the prologue's fact table — that decides the layout BEFORE the
    * first materialization, so the frame is cached exactly once. The
    * hint-less fallback must pin first to learn the count, and above
    * the gate it transiently holds TWO full cached copies (the
    * unpartitioned pin stays alive while the repartitioned pin
    * materializes from it) in exactly the disk-bound 1B-row regime the
    * repartition targets. The gate is a perf heuristic, never
    * semantics, so an upper-bound hint only risks choosing the static
    * layout a little early near the boundary. */
  /** Returns the pinned frame AND its exact row count — the pin's
    * materializing count() already learns it (r21: the rank loops were
    * re-counting the just-pinned frame to gate the deg pin, one extra
    * 32-task job per call; the count is a byproduct of pinning). When a
    * `sizeHint` upper bound gates the layout, the pin's own count is
    * still what's returned (exact, and free — it IS the materialization
    * action). */
  private def pinByKey(df: DataFrame, key: String,
      sizeHint: Option[Long] = None): (DataFrame, Long) = {
    def partitions = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    sizeHint match {
      case Some(n) if n < copartitionMinRows => Checkpoints.pinCounted(df)
      case Some(_) =>
        Checkpoints.pinCounted(df.repartition(partitions, col(key)))
      case None =>
        val (pinned, n) = Checkpoints.pinCounted(df)
        if (n < copartitionMinRows) (pinned, n)
        else {
          // two-phase: the double-copy window documented above — pay it
          // only when the caller cannot estimate scale up front
          val re = Checkpoints.pinCounted(pinned.repartition(partitions, col(key)))
          pinned.unpersist()
          re
        }
    }
  }

  /** `iters` damped PageRank sweeps over a directed edge list
    * (src: bigint, dst: bigint). Contract: every node appears as a src
    * (no dangling mass) — callers modeling undirected graphs emit both
    * directions, which satisfies this by construction. Returns
    * (id, r) with r on the IEEE-deterministic path: per-row divisions
    * are pointwise, cross-row sums are exact DECIMAL(38,18).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      teleport: Double = 0.15, edgeRowsHint: Option[Long] = None): DataFrame = {
    // teleport is a separate literal, NOT computed as 1.0 - damping:
    // IEEE 1.0 - 0.85 = 0.15000000000000002 != the double literal 0.15
    // the oracle SQL carries, and the hash gate sees every ulp.
    require(iters >= 1, s"need iters >= 1, got $iters")
    // The edge list is scanned iters+1 times; materialize it once
    // (upstream joins/distincts would otherwise re-execute per sweep).
    // PINNED, not cut (r19, VERDICT r18 item 2): the frame is
    // loop-invariant — its lineage never grows, so executor-loss
    // recovery recomputes it from the one-shot prologue for free, and
    // routing it through a reliable checkpoint was ~1 GiB of write
    // bytes per run (the bulk of the measured +28% reliable tax at
    // 120M edges). deg is pinned for the same reason: joined every
    // sweep, and a pin turns iters re-aggregations of the edge list
    // into one. Partitioned on src at pin time (see [[pinByKey]]) so
    // the per-sweep joins and the degree aggregate are exchange-free —
    // the edge list crosses the wire once, not once per sweep. The deg
    // pin rides the same size gate: below it the extra eager action is
    // pure fixture-scale overhead (the re-aggregation it saves is
    // cheap there, and AQE handles the small exchanges).
    val (e, nE) = pinByKey(edges, "src", edgeRowsHint)
    val deg0 = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val deg = if (nE >= copartitionMinRows) Checkpoints.pin(deg0)
              else deg0
    val n = deg.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    var ranks = deg.select(col("src").as("id"),
      (lit(1.0) / lit(n.toDouble)).as("r"))
    var it = 0
    while (it < iters) {
      // Contributions are quantized to integer 1e-15 units with FLOOR
      // before the cross-row sum: floor(c*1e15) is an integer-valued
      // double (exact cast to DECIMAL — no fractional rounding, which
      // engines disagree on at the last decimal digit), and the decimal
      // sum is exact and order-independent. Per-dst mass <= 1, so the
      // unit sum stays < 2^53 and converts back to double exactly.
      ranks = e
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .select(col("dst"),
          floor((col("r") / col("outdeg")) * lit(1.0e15)).as("cu"))
        .groupBy("dst")
        .agg(sum(col("cu").cast(DecimalType(38, 0))).cast("double").as("su"))
        .select(col("dst").as("id"),
          (lit(teleport / n) +
            lit(damping) * (col("su") / lit(1.0e15))).as("r"))
      it += 1
      // bound lineage/plan depth on long runs (analyzed-tree growth is
      // multiplicative per sweep — same lesson as CorpusBuild r9).
      // Cut cadence is `graft.checkpoint.stride` (default 4): in
      // reliable mode each cut materializes the full rank frame through
      // the checkpoint filesystem, so the stride is the tax/recovery
      // dial — see Checkpoints.stride for the measured k-choice law.
      if (it % Checkpoints.stride(edges) == 0 && it < iters)
        ranks = ranks.cutLineage()
    }
    ranks
  }

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds`
    * (uniformly), so rank measures authority RELATIVE to the seed
    * topic — the topic-conditioned quality prior (seed = known-good
    * hosts/documents, rank = closeness to that trusted set; TrustRank
    * in the web-spam literature). Same contract, same exact-decimal
    * contribution sums, and the same per-sweep shape as [[pageRank]]
    * (edge scan + node-sized joins); the only addition is a LEFT join
    * on contributions against the once-materialized (node, teleport)
    * base (a node receiving no mass must still keep its teleport term —
    * plain PR's uniform teleport made that impossible to observe).
    * Init r0 = the teleport distribution itself. Seeds outside the
    * rank domain (never an edge source) are excluded from nS so their
    * teleport share doesn't silently leak out of the system. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      damping: Double = 0.85, teleport: Double = 0.15,
      edgeRowsHint: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // loop-invariant -> pinned src-partitioned, not cut (see pageRank /
    // Checkpoints.pin / pinByKey); deg pinned too — it is joined every
    // sweep, and the pin turns iters re-aggregations into one.
    val (e, nE) = pinByKey(edges, "src", edgeRowsHint)
    val degP = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val deg = if (nE >= copartitionMinRows) Checkpoints.pin(degP)
              else degP
    val nodes = deg.select(col("src").as("id"))
    // VERDICT r10 item 3: nodes ⋈ seed-set is LOOP-INVARIANT —
    // materialize the flagged node list once and join only the
    // per-sweep mass against it, instead of re-running the node-sized
    // seed join every sweep. ADVICE r10 folded in: nS counts
    // seeds ∩ node set (the is_seed flags of this very frame), not all
    // distinct seeds — a seed that never appears as an edge src is
    // outside the rank domain, and counting it would silently leak its
    // teleport/nS share out of the system every sweep. One checkpoint
    // serves both the count and the per-sweep teleport term.
    val base0 = nodes.join(
        seeds.select(col("id")).distinct().withColumn("is_seed", lit(true)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .pinInvariant()
    val nS = base0.filter(col("is_seed")).count()
    require(nS > 0,
      "personalized PageRank needs ≥1 seed that appears as an edge source")
    val base = base0.select(col("id"),
      when(col("is_seed"), lit(teleport / nS)).otherwise(lit(0.0)).as("tp"))
    var ranks = base.select(col("id"), col("tp").as("r"))
    var it = 0
    while (it < iters) {
      val mass = e
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .select(col("dst"),
          floor((col("r") / col("outdeg")) * lit(1.0e15)).as("cu"))
        .groupBy("dst")
        .agg((sum(col("cu").cast(DecimalType(38, 0))).cast("double") /
          lit(1.0e15)).as("mass"))
      ranks = base
        .join(mass.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (col("tp") +
            lit(damping) * coalesce(col("mass"), lit(0.0))).as("r"))
      it += 1
      if (it % Checkpoints.stride(edges) == 0 && it < iters)
        ranks = ranks.cutLineage()
    }
    ranks
  }

  /** `iters` SYNCHRONOUS label-propagation sweeps (community detection —
    * the cluster-the-near-dup-groups / topic-blocking step, Raghavan et
    * al. 2007 in deterministic form): each sweep every node adopts the
    * most frequent label among its in-neighbors, ties broken by the
    * SMALLEST label, nodes with no neighbors keep their label. Fixed
    * sweep count + deterministic tie-break makes the result well-defined
    * (plain LPA is run-order-dependent; sync + min-tiebreak is the
    * reproducible variant, at the cost of possible 2-cycles on bipartite
    * cores — callers pick small `iters`).
    *
    * Inputs: `nodes` (node: bigint) — every vertex, isolated ones
    * included; `edges` (a, b) directed — undirected callers emit both
    * directions. One sweep = one map-side-combinable (dst,label) count
    * + a window over node-sized vote groups + a node-sized left join:
    * all shuffles keyed by node id, edge list scanned once per sweep.
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int, edgeRowsHint: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // loop-invariant edge list: pinned a-partitioned (r19, the pageRank
    // discipline) — each sweep's vote join then only moves the
    // node-sized label frame, and recovery recomputes the pin from its
    // one-shot upstream instead of paying a reliable write-through
    val (e, _) = pinByKey(edges, "a", edgeRowsHint)
    var labs = nodes.select(col("node"), col("node").cast("long").as("lab"))
    var it = 0
    while (it < iters) {
      val votes = e
        .join(labs.withColumnRenamed("node", "a"), "a")
        .groupBy(col("b"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
      // r11: argmax by (cnt DESC, lab ASC) as a max_by aggregate — the
      // same winner the row_number window picked, but map-side
      // combinable and sort-free (labels are non-negative partkeys, so
      // -lab is a safe ascending→descending flip inside the max key)
      val winner = votes
        .groupBy(col("b"))
        .agg(max_by(col("lab"), struct(col("cnt"), -col("lab"))).as("wlab"))
        .select(col("b").as("node"), col("wlab"))
      labs = labs.join(winner, Seq("node"), "left")
        .select(col("node"), coalesce(col("wlab"), col("lab")).as("lab"))
      it += 1
      // same stride dial as the rank loops (r20, VERDICT r19 item 3):
      // in reliable mode each cut writes the node-sized label frame
      // through the checkpoint FS, so the cadence is configurable —
      // lineage between cuts is bounded by stride sweeps of
      // aggregate+join, recovery recomputes at most that much
      if (it % Checkpoints.stride(edges) == 0 && it < iters)
        labs = labs.cutLineage()
    }
    labs
  }

  /** Verified fuzzy-match pairs `(pa, pb)` (pa < pb) for the
    * entity-resolution family — ONE candidate discipline shared by
    * ext_entity_linkage / ext_entity_components / ext_label_prop:
    * match = same blocking key (`p_brand`), name-length band <= 2,
    * levenshtein <= 3 (banded DP, threshold 3).
    *
    * VERDICT r9 item 4: the blocking key has FIXED cardinality (25
    * brands in TPC-H), so pure in-block pair generation is O((n/25)²)
    * — quadratic as the corpus grows, ~80G candidate pairs at 100×
    * sf0.1 in 25 shuffle partitions. Discipline here:
    *
    *  - blocks up to `maxBlock` rows generate EXACT in-block pairs
    *    (identical to the r9 behavior; every sf0.01/sf0.1 fixture
    *    block is far under the default cap, so the three oracle rows
    *    are pair-identical and stay hash-green);
    *  - blocks OVER the cap route through character-3-gram MinHash-LSH
    *    candidates INSIDE the block (16 minhashes, 8 bands × 2 rows:
    *    P(candidate) ≈ 0.97 at 3-gram Jaccard 0.6, 0.9 at 0.5), then
    *    the same verify. The oversized tail costs Σ bucket² within
    *    (block × band-signature) buckets instead of block² — measured
    *    ~linear candidate growth at 10×/100× (ScaleStress er_candidates
    *    row) — trading bounded recall on heavy-edit pairs (a 3-edit
    *    rewrite of a short name can shred most of its 3-grams; exact
    *    duplicates and 1-edit variants keep high Jaccard and are
    *    retained — GraphSpec plants both) for sub-quadratic growth.
    *    Exhaustive generation inside a fixed-key mega-block is the
    *    thing that cannot scale; the cap makes the exact path's pair
    *    space <= maxBlock · n, i.e. linear in n at fixed cap.
    *
    * Both paths shuffle on the blocking key (+ band signature), never
    * on the pair space; lengths are precomputed node-side so the band
    * check on each candidate is an int compare (r9 ccb7195). */
  def erMatches(parts: DataFrame, maxBlock: Long = 2000L): DataFrame = {
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val p = parts.select(col("p_partkey"), col("p_brand"), col("p_name"),
      length(col("p_name")).as("len"))
    val sizes = p.groupBy("p_brand").agg(count(lit(1)).as("bn"))
    val tagged = p.join(broadcast(sizes), "p_brand")

    // r11: the exact path rides a CHUNK-GRID triangle join instead of a
    // plain blocking-key join. A key with fixed cardinality (25 brands)
    // caps the join's parallelism at 25 tasks — worse, the shuffle READ
    // is tiny by bytes (node rows, not pairs), so AQE's partition
    // coalescing folds those 25 keys into ~1 partition and the whole
    // block² pair generation + levenshtein runs SERIALLY (measured
    // 4.9 s vs 1.1 s at sf0.1). Each block is cut into ceil(bn/256)
    // hash-chunks; rows replicate along one grid axis so every
    // unordered chunk pair (i ≤ j) is one join key — pair space is
    // unchanged (i==j dedups via pa<pb, i<j pairs are unique by
    // construction), keys grow from |brands| to |brands|·nc·(nc+1)/2,
    // and the explicit repartition count pins the parallelism AQE
    // would coalesce away. Replication factor is nc+1 node rows — noise
    // next to the block² pair stream it balances.
    val chunk = 256
    val nPart = 2 * p.sparkSession.sessionState.conf.numShufflePartitions
    val small = tagged.filter(col("bn") <= maxBlock)
      .withColumn("nc", ceil(col("bn") / lit(chunk)).cast("int"))
      .withColumn("ck", pmod(hash(col("p_partkey")), col("nc")))
    val gridL = small.select(col("p_brand"), col("ck").as("ci"),
      explode(sequence(col("ck"), col("nc") - 1)).as("cj"),
      col("p_partkey").as("pa"), col("p_name").as("na"), col("len").as("la"))
    val gridR = small.select(col("p_brand"),
      explode(sequence(lit(0), col("ck"))).as("ci"), col("ck").as("cj"),
      col("p_partkey").as("pb"), col("p_name").as("nb"), col("len").as("lb"))
    val exact = gridL.repartition(nPart, col("p_brand"), col("ci"), col("cj"))
      .join(gridR.repartition(nPart, col("p_brand"), col("ci"), col("cj")),
        Seq("p_brand", "ci", "cj"))
      .filter((col("ci") =!= col("cj") || col("pa") < col("pb")) &&
        col("pa") =!= col("pb") &&
        abs(col("la") - col("lb")) <= 2 &&
        levenshtein(col("na"), col("nb"), 3).between(0, 3))
      .select(least(col("pa"), col("pb")).as("pa"),
        greatest(col("pa"), col("pb")).as("pb"))

    val big = tagged.filter(col("bn") > maxBlock)
    // per-row 16-minhash over distinct char 3-grams, packed into 8
    // band signatures (compiled UDF: ~60 grams × 16 hashes per name —
    // cheaper than exploding grams through a shuffle; runs only on
    // oversized blocks)
    val bandU = udf { (name: String) =>
      val n = if (name == null) "" else name
      val grams =
        if (n.length < 3) Seq(n)
        else (0 to n.length - 3).map(i => n.substring(i, i + 3)).distinct
      val mh = Array.tabulate(16) { h =>
        var m = Int.MaxValue
        grams.foreach { g =>
          val v = scala.util.hashing.MurmurHash3.stringHash(g, h)
          if (v < m) m = v
        }
        m
      }
      Array.tabulate(8)(b => s"$b:${mh(2 * b)}:${mh(2 * b + 1)}")
    }
    val sig = big.select(col("p_brand"), col("p_partkey"), col("p_name"),
      col("len"), explode(bandU(col("p_name"))).as("bsig"))
    // r11: dedup candidate PAIRS before the levenshtein verify — a pair
    // can collide in up to 8 bands, and the old verify-then-distinct
    // order ran the (banded-DP, but still the most expensive predicate
    // here) levenshtein once per collision instead of once per pair
    // (measured 3.7 s vs 2.6 s on a forced-LSH sf0.1 run, and the gap
    // widens with band count at scale). Cheap prunes (pa<pb,
    // length band) stay ahead of the distinct so it dedups the
    // smallest possible row set.
    val lsh = sig
      .select(col("p_brand"), col("bsig"), col("p_partkey").as("pa"),
        col("p_name").as("na"), col("len").as("la"))
      .join(sig.select(col("p_brand"), col("bsig"),
        col("p_partkey").as("pb"), col("p_name").as("nb"),
        col("len").as("lb")), Seq("p_brand", "bsig"))
      .filter(col("pa") < col("pb") && abs(col("la") - col("lb")) <= 2)
      .select("pa", "pb", "na", "nb")
      .distinct()
      .filter(levenshtein(col("na"), col("nb"), 3).between(0, 3))
      .select("pa", "pb")

    exact.unionAll(lsh)
  }

  /** Triangles of an undirected graph given as id-ORDERED edges
    * (a < b, deduped): the compact-forward join e1(a,b) |><| e2(b,c)
    * |><| e3(a,c) enumerates each triangle exactly once as a < b < c.
    * Returns one row (n_triangles). Cost is the wedge count of the
    * ordered orientation — on degree-bounded graphs (kNN graphs, capped
    * ER blocks) that is O(k^2 * n), shuffling only on edge endpoints.
    * Callers with skewed natural graphs should orient edges
    * low-degree -> high-degree first (the classical trick); the r12
    * registry row feeds a kNN graph, already degree-bounded. */
  def triangleCount(und: DataFrame): DataFrame = {
    val e = und.select(col("a"), col("b"))
    e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Truncated k-core peel (r14, VERDICT r12 item 6): up to `rounds`
    * rounds of "drop every node whose induced degree < k", then the
    * surviving nodes with their induced degree (re-filtered deg >= k,
    * a no-op once converged). Early-exits when a round removes no edge
    * — equivalent to running all `rounds` rounds, so a fixed-`rounds`
    * unrolled SQL oracle agrees bit-for-bit whether or not the peel
    * converged; it equals the TRUE k-core whenever convergence happens
    * within `rounds` (GraphSpec pins exactness on planted graphs;
    * degree-bounded kNN graphs converge in a handful of rounds —
    * measured in SCALE.md). Input: id-ordered undirected edges (a < b,
    * deduped). Each round is two node-keyed aggregates + two
    * semi-join-shaped filters over a SHRINKING edge set with
    * localCheckpoint lineage cuts — the CC loop discipline; state per
    * round is the edge list itself, never a driver collection. */
  def kcoreNodes(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = und.select(col("a"), col("b")).cutLineage()
    var before = e.count()
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val e2 = e.join(keep.select(col("node").as("a")), "a")
        .join(keep.select(col("node").as("b")), "b")
        .select("a", "b").cutLineage()
      val after = e2.count()
      done = after == before
      before = after
      e = e2
      r += 1
    }
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
  }

  /** Deterministic unbiased random walks (r14, part 2) — the sampling
    * primitive under DeepWalk/node2vec (p = q = 1) embeddings and
    * random-walk PPR estimates, made REPLAY-EXACT by drawing each step
    * from a hash instead of an RNG: at step t the walk w moves to the
    * out-neighbor v minimizing (md5("w:t:v"), v). Same-input same-walk
    * on any partitioning/engine — which is what lets a SQL oracle
    * unroll the identical trajectory. Input: id-ordered undirected
    * edges (a < b); walks start at every node with node % startMod = 0
    * and take `steps` moves (no dead ends: every endpoint of an
    * undirected edge has degree >= 1). Output: (walk_id, step, node)
    * trajectories, step 0..steps.
    *
    * Scale shape: each step is one equi-join of the walk frame (n/
    * startMod rows) against the adjacency list plus a per-walk argmin
    * over the ~degree-sized candidate set — walk-keyed shuffles only,
    * bounded by walks x max-degree rows, with a localCheckpoint cut
    * per step (the BFS/CC loop discipline). */
  def randomWalks(und: DataFrame, steps: Int, startMod: Long): DataFrame = {
    require(steps >= 1 && startMod >= 1)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .cutLineage()
    val starts = adj.select(col("u")).distinct()
      .filter(col("u") % startMod === 0)
      .select(col("u").as("walk_id"))
    var cur = starts.withColumn("node", col("walk_id"))
    val traj = scala.collection.mutable.ArrayBuffer[DataFrame](
      cur.withColumn("step", lit(0)))
    (1 to steps).foreach { r =>
      val w = Window.partitionBy("walk_id").orderBy(col("score"), col("v"))
      cur = cur.join(adj, col("node") === col("u"))
        .withColumn("score", md5(concat(col("walk_id").cast("string"),
          lit(s":$r:"), col("v").cast("string")).cast("binary")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("walk_id"), col("v").as("node"))
        .cutLineage()
      traj += cur.withColumn("step", lit(r))
    }
    traj.reduce(_ unionAll _)
      .select(col("walk_id"), col("step").cast("int").as("step"), col("node"))
  }

  /** Capped coreness: max k in 1..kMax whose truncated k-core contains
    * the node (every endpoint of `und` has coreness >= 1, so the k=1
    * peel is skipped). Independent truncated peels per k — each
    * mirrors [[kcoreNodes]]'s fixed-round semantics, so a generated
    * SQL oracle can unroll the identical computation. kMax stays small
    * (the kNN registry graph bounds degree at ~2·k_nn, so coreness is
    * bounded by construction); at 100 TB each peel is the CC-style
    * shrinking-edge-set loop, never more than kMax of them. */
  def corenessCapped(und: DataFrame, kMax: Int, rounds: Int): DataFrame = {
    require(kMax >= 1)
    val base = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .distinct().withColumn("k", lit(1))
    val higher = (2 to kMax).map(k =>
      kcoreNodes(und, k, rounds).select(col("node"), lit(k).as("k")))
    higher.foldLeft(base)(_ unionAll _)
      .groupBy("node").agg(max(col("k")).as("coreness"))
  }

  /** Distributed Borůvka maximum-affinity spanning forest (r15) — the
    * single-linkage clustering backbone (cut it at an affinity
    * threshold and the components ARE the single-link clusters; it is
    * also the skeleton HDBSCAN builds on). Input: undirected weighted
    * edges (a < b, w), deduped; output: the chosen backbone edges.
    *
    * Borůvka is THE distributed MST algorithm (GHS '83 lineage): each
    * round every component picks its best incident edge under the
    * TOTAL order (w DESC, a, b) — totality makes the pick
    * deterministic AND guarantees the picked comp-graph has no cycles
    * beyond mutual 2-cycles — then components contract by hooking each
    * comp to its pick's other endpoint, breaking 2-cycles toward the
    * smaller id, and pointer-jumping `jumps` times. Component count at
    * least halves per round, so `rounds = ceil(log2 n) + 1` fully
    * converges and `jumps` of the same size covers any hook-chain
    * depth (callers derive both from the node count — the
    * ext_mst_backbone lazy oracle derives the SAME numbers, so the
    * unrolled SQL twin is bit-identical by construction). A converged
    * round picks nothing and every later round is a no-op, so the
    * Spark loop may early-exit while the fixed-round oracle cannot —
    * same output.
    *
    * Scale shape: per round, two node-keyed joins to map endpoints to
    * comps, one comp-keyed window for the pick, `jumps` self-joins of
    * the COMP-sized parent table (components, not rows — it shrinks
    * geometrically), and a localCheckpoint cut (the CC/BFS loop
    * discipline). Nothing global, nothing driver-side; O(log n) rounds
    * of keyed shuffles at any scale. */
  def maxSpanningBackbone(undw: DataFrame, rounds: Int, jumps: Int)
      : DataFrame = {
    require(rounds >= 1 && jumps >= 1)
    // the per-round pick joins and `jumps` parent self-joins would
    // otherwise snowball the cut frames' size estimates until stats
    // estimation throws (by round ~5)
    def cut(df: DataFrame): DataFrame = Checkpoints.cutWithoutStats(df)
    var comp = cut(undw.select(col("a").as("node"))
      .unionAll(undw.select(col("b").as("node")))
      .distinct().withColumn("comp", col("node")))
    val e = cut(undw.select("a", "b", "w"))
    var chosen: DataFrame = null
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val ce = e
        .join(comp.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      val dir = ce.select(col("ca").as("c"), col("cb").as("oc"),
          col("a"), col("b"), col("w"))
        .unionAll(ce.select(col("cb").as("c"), col("ca").as("oc"),
          col("a"), col("b"), col("w")))
      val best = dir.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("c")
            .orderBy(col("w").desc, col("a"), col("b"))))
        .filter(col("rn") === 1)
        .select("c", "oc", "a", "b", "w")
      val bestCut = cut(best)
      // r20 (guide §1.2/§2.4): the old loop cut AND distinct'd a
      // separate `picked` frame every round — one eager localCheckpoint
      // job plus one exchange per round whose only consumer is the
      // FINAL `chosen.distinct()`, which dedupes the union anyway (an
      // edge picked by both endpoint comps in one round is the only
      // duplicate source; rounds never re-pick an edge, its endpoints
      // are one comp afterwards). The convergence probe reads bestCut
      // directly (empty iff the projection is empty); each union branch
      // is a narrow projection over the checkpointed bestCut, so the
      // accumulated plan stays additive with LogicalRDD leaves —
      // nothing to checkpoint. Result identical (MstSpec pins vs Prim).
      done = bestCut.isEmpty
      if (!done) {
        val picked = bestCut.select("a", "b", "w")
        chosen =
          if (chosen == null) picked
          else chosen.unionAll(picked)
        // hook every comp to its pick's other comp (self if none picked)
        var par = comp.select(col("comp").as("c")).distinct()
          .join(bestCut.select(col("c"), col("oc").as("p")), Seq("c"), "left")
          .withColumn("p", coalesce(col("p"), col("c")))
        // break the mutual 2-cycles toward the smaller comp id
        par = cut(par.as("x")
          .join(par.as("y"), col("x.p") === col("y.c"))
          .select(col("x.c").as("c"),
            when(col("y.p") === col("x.c") && col("x.c") < col("x.p"),
              col("x.c")).otherwise(col("x.p")).as("p")))
        // pointer-jump with an early exit: hook trees are usually
        // shallow (best-edge hooking builds star-like structures), so
        // most rounds converge in 1-2 jumps — checking the fixpoint
        // (1 tiny job) is far cheaper than running the full log-n jump
        // budget (the r15 fold had the fixed loop at ~11 jobs/round).
        // Semantics are unchanged vs the oracle's FIXED jump count:
        // once p(p(c)) == p(c) for every c, further jumps are no-ops,
        // so early exit == the oracle's no-op tail bit-for-bit.
        var j = 0
        var jDone = false
        while (j < jumps && !jDone) {
          val jumped = cut(par.as("x")
            .join(par.as("y"), col("x.p") === col("y.c"))
            .select(col("x.c").as("c"), col("y.p").as("p"),
              (col("y.p") =!= col("x.p")).as("_moved")))
          jDone = jumped.filter(col("_moved")).isEmpty
          par = jumped.drop("_moved")
          j += 1
        }
        comp = cut(comp.as("m")
          .join(par, col("m.comp") === col("c"))
          .select(col("m.node").as("node"), col("p").as("comp")))
      }
      r += 1
    }
    if (chosen == null) e.filter(lit(false)) else chosen.distinct()
  }
}
