package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import graft.ext.Checkpoints.CutOps
import graft.functions.GraftFunctions.topKByScore

/** Graph-shaped curation operators: link centrality (the web-corpus
  * quality prior) and blocked fuzzy entity linkage (the record-dedup
  * step upstream of every entity table a pipeline joins against).
  * Both oracle-paired: PageRank via unrolled decimal-exact iterations,
  * linkage via DuckDB's levenshtein (cross-engine identical — proven by
  * fn_levenshtein since r8).
  */
object GraphQ {

  /** Fixed peel-round budget shared by the ext_kcore Spark loop and its
    * unrolled SQL oracle — both run EXACTLY this truncated-peel
    * semantics (early exit on convergence is a no-op equivalence), so
    * they agree bit-for-bit even if a pathological input hasn't
    * converged; on the degree-bounded kNN graph convergence takes a
    * handful of rounds (measured in SCALE.md). */
  private val KcoreRounds = 16
  private val KcoreMax = 4

  /** Fixed BFS relax-round budget (r14) — shared by the ext_bfs Spark
    * loop and its unrolled oracle CTEs, same truncation contract as
    * the k-core peel. */
  private val BfsRounds = 8

  /** Steps per ext_random_walk trajectory (shared by the Spark loop and
    * the unrolled oracle). */
  private val WalkSteps = 6

  /** The pagerank rows' shared prologue: distinct customer-supplier
    * trade pairs from orders⋈lineitem, both sides projected to their
    * two key columns BEFORE the join (the shuffle then moves 16-byte
    * rows, nothing else). The orders build side is hinted
    * SHUFFLE_HASH at every scale: a shuffled hash join builds a
    * per-partition map of the smaller orders side and streams lineitem
    * unsorted. At factor 1000 a sort-merge join must sort ~600M
    * lineitem rows per side, and that spill exceeded the box's disk.
    * At fixture scale the hint is faster too: an r20 A/B on identical
    * code (interleaved fresh JVMs, TimeOne best-of-4) measured hint-on
    * 4.69/4.87 s against hint-off (AQE's broadcast) 5.49/6.69 s on
    * ext_pagerank, and 5.07/5.94 against 6.45/6.50 s on
    * ext_pagerank_personalized.
    *
    * Returns the pairs frame plus the lineitem count, which callers
    * reuse as the edge-row upper bound for
    * [[graft.ext.Graph.pageRank]]'s `edgeRowsHint` (edges = 2×distinct
    * pairs ≤ 2×lineitem — deciding the co-partition layout up front
    * keeps the billion-row edge cache single-copy). The count is read
    * from the parquet footers on the driver: exact, and no Spark job. */
  private[graft] def pagerankPairs(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Long) = {
    val nLi: Long = Tables.parquetRowCount(s, d, "lineitem")
    val pairs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .hint("shuffle_hash")
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    (pairs, nLi)
  }

  /** The supplier kNN co-order graph prologue shared by the r14 rows:
    * co-order counts -> per-supplier top-3 by (count DESC, id) -> id-
    * ordered deduped undirected edges. Identical text to the inline
    * prologues of ext_triangle_count / ext_kcore. */
  private val knnUndSql: String =
    """WITH co AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
      |         COUNT(DISTINCT a.l_orderkey) AS c
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
      |  GROUP BY 1, 2),
      |knn AS (SELECT u, v FROM (
      |  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
      |                                  ORDER BY c DESC, v) AS rn
      |  FROM co) WHERE rn <= 3),
      |und AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
      |        FROM knn)""".stripMargin

  /** Spark twin of [[knnUndSql]] — served from [[KnnFixture]], so the
    * expensive co-order prologue runs once per (session, sfDir) and is
    * shared by every kNN-graph row (VERDICT r14 item 1). Checkpoint-
    * backed with a stats cut (it feeds iterative consumers and
    * self-joins). */
  private def knnUnd(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = KnnFixture.und(s, d)

  /** Unrolled truncated k-core peel CTEs for one k over a CTE `und`
    * (a, b) id-ordered edges: s{k}_1..s{k}_R membership stages, then
    * c{k} = survivors re-filtered at deg >= k (the kcoreNodes output
    * contract). */
  private def kcorePeelSql(k: Int, rounds: Int): String = {
    def induced(prev: String) =
      s"""    SELECT e.a AS node FROM und e
         |      JOIN $prev x ON x.node = e.a JOIN $prev y ON y.node = e.b
         |    UNION ALL
         |    SELECT e.b AS node FROM und e
         |      JOIN $prev x ON x.node = e.a JOIN $prev y ON y.node = e.b""".stripMargin
    val first =
      s"""s${k}_1 AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
         |  GROUP BY node HAVING COUNT(*) >= $k)""".stripMargin
    val rest = (2 to rounds).map { r =>
      s"""s${k}_$r AS MATERIALIZED (
         |  SELECT node FROM (
         |${induced(s"s${k}_${r - 1}")})
         |  GROUP BY node HAVING COUNT(*) >= $k)""".stripMargin
    }
    val fin =
      s"""c$k AS MATERIALIZED (
         |  SELECT node FROM (
         |${induced(s"s${k}_$rounds")})
         |  GROUP BY node HAVING COUNT(*) >= $k)""".stripMargin
    (first +: rest :+ fin).mkString(",\n")
  }

  /** One temp checkpoint dir per JVM for the reliable-mode probe row —
    * a single `setCheckpointDir` target so checkpoint files collect
    * under one UUID child (KB-scale per rep at fixture size; reliable
    * checkpoints are not auto-deleted without
    * `spark.cleaner.referenceTracking.cleanCheckpoints`), deleted with
    * everything under it when the JVM exits. */
  private lazy val reliableProbeDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-probe").toFile
    sys.addShutdownHook {
      try org.apache.spark.network.util.JavaUtils.deleteRecursively(dir)
      catch { case _: java.io.IOException => () }
    }
    dir.toString
  }

  /** Shared oracle SQL + Spark body of ext_entity_components and its
    * reliable-mode probe twin (r21) — ONE definition so the two rows
    * can never drift. */
  private val entityComponentsSql: String =
    """WITH RECURSIVE cand AS (
      |  SELECT a.p_partkey AS pa, b.p_partkey AS pb
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand
      |   AND a.p_partkey < b.p_partkey
      |   AND abs(length(a.p_name) - length(b.p_name)) <= 2
      |   AND levenshtein(a.p_name, b.p_name) <= 3),
      |edges AS (SELECT pa AS a, pb AS b FROM cand
      |          UNION ALL SELECT pb AS a, pa AS b FROM cand),
      |reach AS (
      |  SELECT p_partkey AS node, p_partkey AS lab FROM part
      |  UNION
      |  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node)
      |SELECT node AS p_partkey, MIN(lab) AS component
      |FROM reach GROUP BY node ORDER BY p_partkey""".stripMargin

  private def entityComponentsImpl(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val part = Tables.part(s, d)
    // shared capped/LSH-fallback candidate discipline (r10) — pairs
    // identical to the exact oracle at fixture scale; served from
    // ErFixture (one build per session+dir)
    val edges = ErFixture.edges(s, d)
      .select(col("pa").as("doc_a"), col("pb").as("doc_b"))
    val comp = graft.ext.Dedup.connectedComponents(edges)
      .withColumnRenamed("node", "p_partkey")
    part.select(col("p_partkey"))
      .join(comp, Seq("p_partkey"), "left")
      .select(col("p_partkey"),
        coalesce(col("component"), col("p_partkey")).as("component"))
      .orderBy("p_partkey")
  }

  val all: Seq[QueryDef] = Seq(

    // PageRank over the customer-supplier trade graph (distinct pairs
    // from orders |><| lineitem, both directions, so no dangling mass).
    // 3 damped sweeps, each: edges equi-join node-sized ranks + one
    // map-side-combinable dst aggregation. Contributions quantize to
    // integer 1e-15 units (floor) before the exact decimal sum —
    // bit-stable across engines and partition counts (see Graph.pageRank
    // scaladoc). The oracle unrolls the 3 iterations as CTEs. Node ids:
    // customer 2c, supplier 2s+1.
    QueryDef(
      "ext_pagerank",
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |edges AS (
        |  SELECT 2*c AS src, 2*s+1 AS dst FROM pairs
        |  UNION ALL SELECT 2*s+1 AS src, 2*c AS dst FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
        |r0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE)/(SELECT n FROM nn) AS r FROM deg),
        |i1 AS (SELECT e.dst AS id,
        |         CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
        |           + CAST(0.85 AS DOUBLE) * (CAST(SUM(CAST(FLOOR((r.r/d.outdeg) * 1e15) AS DECIMAL(38,0))) AS DOUBLE) / 1e15) AS r
        |       FROM edges e JOIN r0 r ON r.id = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |i2 AS (SELECT e.dst AS id,
        |         CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
        |           + CAST(0.85 AS DOUBLE) * (CAST(SUM(CAST(FLOOR((r.r/d.outdeg) * 1e15) AS DECIMAL(38,0))) AS DOUBLE) / 1e15) AS r
        |       FROM edges e JOIN i1 r ON r.id = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |i3 AS (SELECT e.dst AS id,
        |         CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
        |           + CAST(0.85 AS DOUBLE) * (CAST(SUM(CAST(FLOOR((r.r/d.outdeg) * 1e15) AS DECIMAL(38,0))) AS DOUBLE) / 1e15) AS r
        |       FROM edges e JOIN i2 r ON r.id = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst)
        |SELECT id AS node_id, r AS pr FROM i3 ORDER BY node_id""".stripMargin) { (s, d) =>
      // Prologue restructured for factor-1000 survival (r19, VERDICT
      // r18 item 3) — see [[pagerankPairs]] for the SHUFFLE_HASH hint.
      val (pairs, nLi) = pagerankPairs(s, d)
      // both directions via ONE explode pass (r19): the union-of-two-
      // selects form referenced the un-materialized `pairs` twice, so
      // pinning the edges executed the whole join+distinct prologue
      // TWICE at factor 1000; explode reads it once
      val edges = pairs
        .select(explode(array(
          struct((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
          struct((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.ext.Graph.pageRank(edges, iters = 3,
          edgeRowsHint = Some(2L * nLi))
        .select(col("id").as("node_id"), col("r").as("pr"))
        .orderBy("node_id")
    },

    // Personalized PageRank (r10 part 3): teleport mass restricted to a
    // SEED set (BUILDING-segment customers) — rank becomes closeness to
    // the trusted set (TrustRank), the topic-conditioned quality prior
    // a curation pipeline uses when "authority" must mean "authority
    // near known-good sources", not global centrality. Same bipartite
    // customer/supplier graph and exact-decimal contribution sums as
    // ext_pagerank; the oracle unrolls the three sweeps with the
    // seed-term LEFT joins spelled out.
    QueryDef(
      "ext_pagerank_personalized",
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |edges AS (
        |  SELECT 2*c AS src, 2*s+1 AS dst FROM pairs
        |  UNION ALL SELECT 2*s+1 AS src, 2*c AS dst FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |seeds AS (
        |  SELECT DISTINCT 2*p.c AS id FROM pairs p
        |  JOIN customer cu ON cu.c_custkey = p.c
        |  WHERE cu.c_mktsegment = 'BUILDING'),
        |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
        |stp AS (SELECT id, CAST(0.15 AS DOUBLE)/(SELECT n FROM ns) AS tp FROM seeds),
        |r0 AS (
        |  SELECT d.src AS id, COALESCE(s.tp, CAST(0 AS DOUBLE)) AS r
        |  FROM deg d LEFT JOIN stp s ON s.id = d.src),
        |i1 AS (
        |  SELECT d.src AS id,
        |         COALESCE(s.tp, CAST(0 AS DOUBLE)) + CAST(0.85 AS DOUBLE) *
        |           COALESCE(m.mass, CAST(0 AS DOUBLE)) AS r
        |  FROM deg d
        |  LEFT JOIN (SELECT e.dst,
        |               CAST(SUM(CAST(FLOOR((r.r/dd.outdeg) * 1e15) AS DECIMAL(38,0))) AS DOUBLE) / 1e15 AS mass
        |             FROM edges e JOIN r0 r ON r.id = e.src
        |                          JOIN deg dd ON dd.src = e.src
        |             GROUP BY e.dst) m ON m.dst = d.src
        |  LEFT JOIN stp s ON s.id = d.src),
        |i2 AS (
        |  SELECT d.src AS id,
        |         COALESCE(s.tp, CAST(0 AS DOUBLE)) + CAST(0.85 AS DOUBLE) *
        |           COALESCE(m.mass, CAST(0 AS DOUBLE)) AS r
        |  FROM deg d
        |  LEFT JOIN (SELECT e.dst,
        |               CAST(SUM(CAST(FLOOR((r.r/dd.outdeg) * 1e15) AS DECIMAL(38,0))) AS DOUBLE) / 1e15 AS mass
        |             FROM edges e JOIN i1 r ON r.id = e.src
        |                          JOIN deg dd ON dd.src = e.src
        |             GROUP BY e.dst) m ON m.dst = d.src
        |  LEFT JOIN stp s ON s.id = d.src),
        |i3 AS (
        |  SELECT d.src AS id,
        |         COALESCE(s.tp, CAST(0 AS DOUBLE)) + CAST(0.85 AS DOUBLE) *
        |           COALESCE(m.mass, CAST(0 AS DOUBLE)) AS r
        |  FROM deg d
        |  LEFT JOIN (SELECT e.dst,
        |               CAST(SUM(CAST(FLOOR((r.r/dd.outdeg) * 1e15) AS DECIMAL(38,0))) AS DOUBLE) / 1e15 AS mass
        |             FROM edges e JOIN i2 r ON r.id = e.src
        |                          JOIN deg dd ON dd.src = e.src
        |             GROUP BY e.dst) m ON m.dst = d.src
        |  LEFT JOIN stp s ON s.id = d.src)
        |SELECT id AS node_id, r AS ppr FROM i3 ORDER BY node_id""".stripMargin) { (s, d) =>
      // r11: pairs feeds BOTH the edge list and the seed set — without
      // the checkpoint the orders⋈lineitem distinct ran twice (the
      // library checkpoints edges and seeds separately; this is the
      // caller-side share, ~1 s of the old 1.7×-over-plain-PR gap).
      // Same prologue as ext_pagerank — pruned projections,
      // SHUFFLE_HASH (see [[pagerankPairs]]).
      val (pairs0, nLi) = pagerankPairs(s, d)
      val pairs = pairs0.cutLineage()
      // one explode pass over the cached pairs (r19, same reason as
      // ext_pagerank — one scan instead of two union branches)
      val edges = pairs
        .select(explode(array(
          struct((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
          struct((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = pairs
        .join(Tables.customer(s, d), col("c_custkey") === col("c"))
        .filter(col("c_mktsegment") === "BUILDING")
        .select((col("c") * 2).as("id")).distinct()
      graft.ext.Graph.personalizedPageRank(edges, seeds, iters = 3,
          edgeRowsHint = Some(2L * nLi))
        .select(col("id").as("node_id"), col("r").as("ppr"))
        .orderBy("node_id")
    },

    // Blocked fuzzy entity linkage (record dedup): candidate pairs only
    // within a blocking key (p_brand) plus a length band — the standard
    // ER trick that keeps the pair space at sum(block^2), never n^2 —
    // then levenshtein <= 3 match and single-hop min-id canonicalization
    // (the full transitive closure is the CC machinery the LSH-dedup
    // family already proves; one hop keeps the op oracle-expressible).
    // At cluster scale the blocking key is the shuffle key; each block's
    // pair space is generated within its partition.
    QueryDef(
      "ext_entity_linkage",
      """WITH cand AS (
        |  SELECT a.p_partkey AS pa, b.p_partkey AS pb
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand
        |   AND a.p_partkey < b.p_partkey
        |   AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |   AND levenshtein(a.p_name, b.p_name) <= 3),
        |links AS (
        |  SELECT pa AS p, pb AS q FROM cand
        |  UNION ALL SELECT pb AS p, pa AS q FROM cand
        |  UNION ALL SELECT p_partkey AS p, p_partkey AS q FROM part),
        |grp AS (SELECT p, MIN(q) AS canon_id,
        |               CAST(COUNT(*) - 1 AS BIGINT) AS n_links
        |        FROM links GROUP BY p)
        |SELECT p AS p_partkey, canon_id, n_links
        |FROM grp ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val part = Tables.part(s, d)
      // shared capped/LSH-fallback candidate discipline (r10, VERDICT
      // r9 item 4) — every fixture block is far under the cap, so the
      // pairs are identical to the exact brand-blocked oracle; served
      // from ErFixture (one candidate+verify build per session+dir,
      // VERDICT r14 item 2)
      val cand = ErFixture.edges(s, d)
      val links = cand.select(col("pa").as("p"), col("pb").as("q"))
        .unionAll(cand.select(col("pb").as("p"), col("pa").as("q")))
        .unionAll(part.select(col("p_partkey").as("p"),
          col("p_partkey").as("q")))
      links.groupBy("p")
        .agg(min("q").as("canon_id"),
          (count(lit(1)) - 1).cast("bigint").as("n_links"))
        .select(col("p").as("p_partkey"), col("canon_id"), col("n_links"))
        .orderBy("p_partkey")
    },

    // Full entity RESOLUTION: transitive closure of the fuzzy-match
    // graph via the battle-tested min-label-propagation CC (the same
    // operator every LSH-dedup row rides, ext/Dedup.scala:170 — here
    // exposed as its own oracle row for the first time: DuckDB's
    // recursive CTE computes the true closure, so the iterate-to-
    // convergence Spark loop is hash-checked against an exact fixpoint,
    // not just spec fixtures). Non-matched parts are their own
    // singleton component.
    QueryDef(
      "ext_entity_components",
      entityComponentsSql) { (s, d) =>
      entityComponentsImpl(s, d)
    },

    // The SAME computation in RELIABLE checkpoint mode (r21, VERDICT
    // r20 item 8): `graft.checkpoint.dir` pointed at a JVM-local temp
    // dir for the duration of the (eager) CC loop, so the driver's
    // bench finally MEASURES the reliable-mode path the r20 stride work
    // optimized — every previous round's stride/pin evidence lived only
    // in committed SCALE.md probes the driver cannot run. Results are
    // bit-identical to ext_entity_components (CheckpointModeSpec pins
    // the mode toggle; the oracle SQL is literally the same string) —
    // the row exists to expose reliable-mode WALL TIME as a driver-
    // visible number whose delta vs its local twin is the checkpoint
    // write-through tax, with `graft.checkpoint.stride` as the dial.
    QueryDef(
      "ext_entity_components_reliable",
      entityComponentsSql) { (s, d) =>
      val prev = s.conf.getOption("graft.checkpoint.dir")
      s.conf.set("graft.checkpoint.dir", reliableProbeDir)
      try entityComponentsImpl(s, d)
      finally prev match {
        case Some(v) => s.conf.set("graft.checkpoint.dir", v)
        case None => s.conf.unset("graft.checkpoint.dir")
      }
    },

    // Community detection by deterministic synchronous label propagation
    // (2 sweeps, majority label among neighbors, min-label tie-break,
    // isolated nodes keep their own id). Communities are FINER than
    // ext_entity_components' reachability classes — LPA splits weakly
    // joined blobs that CC merges, which is the blocking granularity
    // near-dup clustering actually wants. The oracle unrolls the two
    // sweeps as CTEs; Spark runs the same sweeps via Graph
    // .labelPropagation (shuffles keyed by node id only, edge list
    // scanned once per sweep — see its scaladoc for the 100 TB shape).
    QueryDef(
      "ext_label_prop",
      """WITH cand AS (
        |  SELECT a.p_partkey AS pa, b.p_partkey AS pb
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand
        |   AND a.p_partkey < b.p_partkey
        |   AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |   AND levenshtein(a.p_name, b.p_name) <= 3),
        |edges AS (SELECT pa AS a, pb AS b FROM cand
        |          UNION ALL SELECT pb AS a, pa AS b FROM cand),
        |l0 AS (SELECT p_partkey AS node, p_partkey AS lab FROM part),
        |v1 AS (SELECT e.b AS node, r.lab, COUNT(*) AS cnt
        |       FROM edges e JOIN l0 r ON r.node = e.a GROUP BY e.b, r.lab),
        |w1 AS (SELECT node, lab,
        |              ROW_NUMBER() OVER (PARTITION BY node
        |                                 ORDER BY cnt DESC, lab) AS rn
        |       FROM v1),
        |l1 AS (SELECT n.node, COALESCE(w.lab, n.lab) AS lab
        |       FROM l0 n LEFT JOIN (SELECT node, lab FROM w1 WHERE rn = 1) w
        |         ON w.node = n.node),
        |v2 AS (SELECT e.b AS node, r.lab, COUNT(*) AS cnt
        |       FROM edges e JOIN l1 r ON r.node = e.a GROUP BY e.b, r.lab),
        |w2 AS (SELECT node, lab,
        |              ROW_NUMBER() OVER (PARTITION BY node
        |                                 ORDER BY cnt DESC, lab) AS rn
        |       FROM v2),
        |l2 AS (SELECT n.node, COALESCE(w.lab, n.lab) AS lab
        |       FROM l1 n LEFT JOIN (SELECT node, lab FROM w2 WHERE rn = 1) w
        |         ON w.node = n.node)
        |SELECT node AS p_partkey, lab AS community
        |FROM l2 ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val part = Tables.part(s, d)
      // shared capped/LSH-fallback candidate discipline (r10) — pairs
      // identical to the exact oracle at fixture scale; served from
      // ErFixture (one build per session+dir)
      val cand = ErFixture.edges(s, d)
      val edges = cand.select(col("pa").as("a"), col("pb").as("b"))
        .unionAll(cand.select(col("pb").as("a"), col("pa").as("b")))
      graft.ext.Graph
        .labelPropagation(part.select(col("p_partkey").as("node")), edges,
          iters = 2)
        .select(col("node").as("p_partkey"), col("lab").as("community"))
        .orderBy("p_partkey")
    },

    // Triangle count on the supplier k-nearest-neighbor co-order graph
    // (r12). Raw supplier co-occurrence in TPC-H is near-complete
    // (dense graphs make triangle counting degenerate AND quadratic);
    // the standard similarity-graph shape is kNN: each supplier keeps
    // its top-3 co-order partners (by shared-order count, id
    // tie-break), giving <= 3n directed edges at ANY scale. Triangles
    // via the compact-forward join on id-ordered undirected edges:
    // e1(a,b) |><| e2(b,c) |><| e3(a,c) with a<b<c — the edge list is
    // degree-bounded so the wedge intermediate is O(9n), not sum
    // deg^2. All counts integer-exact; one summary row.
    QueryDef(
      "ext_triangle_count",
      """WITH co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |         COUNT(DISTINCT a.l_orderkey) AS c
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
        |  GROUP BY 1, 2),
        |knn AS (SELECT u, v FROM (
        |  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
        |                                  ORDER BY c DESC, v) AS rn
        |  FROM co) WHERE rn <= 3),
        |und AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM knn),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |        FROM und e1 JOIN und e2 ON e1.b = e2.a
        |             JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) FROM co) AS n_nodes,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
        |       (SELECT n_triangles FROM tri) AS n_triangles""".stripMargin) { (s, d) =>
      // Shared KnnFixture prologue (one co-order build per session+dir).
      // n_nodes = DISTINCT u of the directed kNN edges == DISTINCT u of
      // the full co-order set: every u with >= 1 partner keeps a top-1.
      val knn = KnnFixture.knn(s, d)
      val und = knnUnd(s, d)
      val tri = graft.ext.Graph.triangleCount(und)
      val nodes = knn.agg(countDistinct(col("u")).as("n_nodes"))
      val edges = und.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(edges).crossJoin(tri)
    },

    // Local clustering coefficient per node on the same supplier kNN
    // co-order graph (r12): n_tri(v) / C(deg(v), 2) — the standard
    // "how clique-like is each node's neighborhood" community metric.
    // Triangles enumerate once (ordered compact-forward join), then
    // explode to their 3 member nodes; degree is one union+count. All
    // joins/aggregates shuffle on node keys; the coefficient division
    // runs on identical integer operands in both engines.
    QueryDef(
      "ext_clustering_coeff",
      """WITH co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |         COUNT(DISTINCT a.l_orderkey) AS c
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
        |  GROUP BY 1, 2),
        |knn AS (SELECT u, v FROM (
        |  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
        |                                  ORDER BY c DESC, v) AS rn
        |  FROM co) WHERE rn <= 3),
        |und AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM knn),
        |tri AS (SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
        |        FROM und e1 JOIN und e2 ON e1.b = e2.a
        |             JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |trin AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |           SELECT n1 AS node FROM tri
        |           UNION ALL SELECT n2 FROM tri
        |           UNION ALL SELECT n3 FROM tri) GROUP BY node),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |        GROUP BY node)
        |SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
        |       CAST(COALESCE(t.n_tri, 0) AS DOUBLE)
        |         / (d.deg * (d.deg - 1) / 2) AS coeff
        |FROM deg d LEFT JOIN trin t ON t.node = d.node
        |WHERE d.deg >= 2""".stripMargin) { (s, d) =>
      val und = knnUnd(s, d)
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("n1"), col("e1.b").as("n2"), col("e2.b").as("n3"))
      val trin = tri.select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      val deg = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      deg.join(trin, Seq("node"), "left")
        .filter(col("deg") >= 2)
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          (coalesce(col("n_tri"), lit(0L)).cast("double")
            / (col("deg") * (col("deg") - 1) / 2)).as("coeff"))
    },

    // k-core decomposition on the supplier kNN co-order graph (r14,
    // VERDICT r12 item 6) — the standard spam/anomaly density prior
    // beside triangles: coreness(v) = max k such that v survives the
    // "repeatedly drop nodes of induced degree < k" peel. Capped at
    // k<=4 (the kNN construction bounds degree at ~2*k_nn=6, so higher
    // cores are structurally rare) and truncated at a FIXED round
    // budget that the Spark loop and the unrolled SQL oracle share —
    // identical semantics converged or not, exact coreness whenever the
    // peel converges in budget (it does here; GraphSpec pins planted
    // K4/ring/path truth, SCALE.md the convergence rounds). Every
    // round: two node-keyed aggregates over a shrinking edge set,
    // localCheckpoint lineage cuts — the connected-components loop
    // discipline at any scale.
    QueryDef(
      "ext_kcore",
      """WITH co AS (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |         COUNT(DISTINCT a.l_orderkey) AS c
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
        |  GROUP BY 1, 2),
        |knn AS (SELECT u, v FROM (
        |  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
        |                                  ORDER BY c DESC, v) AS rn
        |  FROM co) WHERE rn <= 3),
        |und AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM knn),
        |""".stripMargin +
      (2 to KcoreMax).map(kcorePeelSql(_, KcoreRounds)).mkString(",\n") +
      """,
        |base AS (SELECT a AS node FROM und UNION SELECT b AS node FROM und),
        |cor AS (
        |  SELECT node, MAX(k) AS coreness FROM (
        |    SELECT node, 1 AS k FROM base
        |    UNION ALL SELECT node, 2 AS k FROM c2
        |    UNION ALL SELECT node, 3 AS k FROM c3
        |    UNION ALL SELECT node, 4 AS k FROM c4)
        |  GROUP BY node)
        |SELECT node, CAST(coreness AS INT) AS coreness FROM cor""".stripMargin) { (s, d) =>
      val und = knnUnd(s, d)
      graft.ext.Graph.corenessCapped(und, KcoreMax, KcoreRounds)
        .select(col("node"), col("coreness").cast("int").as("coreness"))
    },

    // Link prediction on the kNN co-order graph (r14): common-neighbor
    // count + resource-allocation index (Zhou et al. 2009 — RA is the
    // rational-arithmetic member of the CN/AA/RA family, so the score
    // crosses the engine boundary as an exact quantized-long sum of
    // floor(1e12/deg); Adamic-Adar's log would not hash). The
    // related-item mining primitive: score non-adjacent pairs by
    // shared neighborhoods. Wedge enumeration is O(Σ deg²) = O(9n) on
    // the degree-bounded kNN graph — node-keyed shuffles only, the
    // anti-join removes existing edges.
    QueryDef(
      "ext_link_prediction",
      knnUndSql +
      """,
        |adj AS (SELECT a AS u, b AS v FROM und
        |        UNION ALL SELECT b AS u, a AS v FROM und),
        |dg AS (SELECT u AS node, COUNT(*) AS d FROM adj GROUP BY u),
        |wedge AS (
        |  SELECT x.v AS src, y.v AS dst, x.u AS z
        |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v),
        |cand AS (
        |  SELECT w.src, w.dst, CAST(COUNT(*) AS BIGINT) AS cn,
        |         CAST(SUM(CAST(FLOOR(1e12 / dg.d) AS BIGINT)) AS BIGINT)
        |           AS ra_q
        |  FROM wedge w JOIN dg ON dg.node = w.z
        |  GROUP BY w.src, w.dst)
        |SELECT c.src, c.dst, c.cn, CAST(c.ra_q AS DOUBLE) / 1e12 AS ra
        |FROM cand c LEFT JOIN und e ON e.a = c.src AND e.b = c.dst
        |WHERE e.a IS NULL
        |ORDER BY c.cn DESC, c.src, c.dst""".stripMargin) { (s, d) =>
      val und = knnUnd(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      val dg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      val wedge = adj.as("x").join(adj.as("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .select(col("x.v").as("src"), col("y.v").as("dst"), col("x.u").as("z"))
      val cand = wedge.join(dg, col("z") === col("node"))
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("cn"),
          sum(floor(lit(1e12) / col("d")).cast("long")).as("ra_q"))
      cand.join(und,
          cand("src") === und("a") && cand("dst") === und("b"), "left_anti")
        .select(col("src"), col("dst"), col("cn"),
          (col("ra_q").cast("double") / lit(1e12)).as("ra"))
        .orderBy(col("cn").desc, col("src"), col("dst"))
    },

    // Truncated BFS from the minimum-id node (r14): hop distances up
    // to a FIXED round budget shared by the Spark relax loop and the
    // unrolled oracle — identical semantics converged or not, exact
    // distance wherever BFS reaches within budget (the kcore
    // discipline). Each round: frontier-to-adjacency equi-join + a
    // node-keyed MIN — the distributed Bellman-Ford step with unit
    // weights; the dist table is bounded by reached nodes, never
    // frontier² — with a localCheckpoint lineage cut per round.
    QueryDef(
      "ext_bfs_distance",
      knnUndSql +
      """,
        |adj AS (SELECT a AS u, b AS v FROM und
        |        UNION ALL SELECT b AS u, a AS v FROM und),
        |d0 AS (SELECT MIN(a) AS node, 0 AS dist FROM und),
        |""".stripMargin +
      (1 to BfsRounds).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT node, MIN(dist) AS dist FROM (
           |    SELECT node, dist FROM d${r - 1}
           |    UNION ALL
           |    SELECT adj.v AS node, f.dist + 1 AS dist
           |    FROM d${r - 1} f JOIN adj ON adj.u = f.node) tr
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n") +
      s"""
         |SELECT node, CAST(dist AS INT) AS dist FROM d$BfsRounds
         |ORDER BY node""".stripMargin) { (s, d) =>
      val und = knnUnd(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v")))
        .cutLineage()
      var dist = und.agg(min(col("a")).as("node")).withColumn("dist", lit(0))
      (1 to BfsRounds).foreach { _ =>
        val nbr = dist.join(adj, dist("node") === adj("u"))
          .select(adj("v").as("node"), (dist("dist") + 1).as("dist"))
        dist = dist.unionAll(nbr)
          .groupBy("node").agg(min(col("dist")).as("dist"))
          .cutLineage()
      }
      dist.select(col("node"), col("dist").cast("int").as("dist"))
        .orderBy("node")
    },

    // Deterministic random walks (r14, part 2): 6-step unbiased walks
    // (DeepWalk/node2vec at p = q = 1) from every node = 0 mod 5 of
    // the kNN co-order graph, each step drawn by HASH argmin instead
    // of an RNG — min (md5("walk:step:v"), v) over the out-neighbors —
    // so the trajectory is replay-exact across partitionings AND
    // engines, and the oracle below unrolls the identical walk. The
    // sampling primitive under graph embeddings and walk-based PPR;
    // ext.Graph.randomWalks carries the loop (walk-keyed shuffles,
    // per-step localCheckpoint cuts; GraphSpec pins trajectory truth
    // on planted graphs against an independent JVM-md5 recomputation).
    QueryDef(
      "ext_random_walk",
      knnUndSql +
        """,
          |adj AS (SELECT a AS u, b AS v FROM und
          |        UNION ALL SELECT b AS u, a AS v FROM und),
          |w0 AS (SELECT DISTINCT u AS walk_id, u AS node
          |       FROM adj WHERE u % 5 = 0),
          |""".stripMargin +
        (1 to WalkSteps).map { r =>
          s"""w$r AS MATERIALIZED (
             |  SELECT walk_id, node FROM (
             |    SELECT p.walk_id, adj.v AS node,
             |           ROW_NUMBER() OVER (PARTITION BY p.walk_id
             |             ORDER BY md5(CAST(p.walk_id AS VARCHAR) || ':$r:' ||
             |                          CAST(adj.v AS VARCHAR)), adj.v) AS rn
             |    FROM w${r - 1} p JOIN adj ON adj.u = p.node)
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n") +
        "\nSELECT walk_id, CAST(0 AS INTEGER) AS step, node FROM w0" +
        (1 to WalkSteps).map(r =>
          s"\nUNION ALL SELECT walk_id, CAST($r AS INTEGER) AS step, node FROM w$r")
          .mkString +
        "\nORDER BY walk_id, step") { (s, d) =>
      graft.ext.Graph.randomWalks(knnUnd(s, d), steps = WalkSteps,
          startMod = 5)
        .orderBy("walk_id", "step")
    },

    // Maximum-affinity spanning backbone (r15): Borůvka over the
    // weighted supplier co-order kNN graph — the single-linkage
    // clustering skeleton (threshold the backbone and the components
    // ARE the single-link clusters; HDBSCAN builds on the same tree).
    // The distributed algorithm lives in ext/Graph.maxSpanningBackbone
    // (per-round comp-keyed picks + hook + pointer-jump contraction,
    // O(log n) rounds); the LAZY oracle unrolls the IDENTICAL
    // truncated algorithm as MATERIALIZED CTEs — round and jump
    // budgets derive from the node count the same way on both sides,
    // so convergence (and any truncation) is shared bit-for-bit, the
    // ext_kcore/ext_bfs_distance discipline. Determinism: every pick
    // uses the TOTAL edge order (w DESC, a, b); totality is also what
    // limits pick-graph cycles to mutual 2-cycles, so the smaller-id
    // break yields a forest each round. MstSpec pins the result
    // against in-JVM Prim on the same edges.
    QueryDef.lazyOracle("ext_mst_backbone") { (s, d) =>
      val budget = mstBudget(knnNodeCount(s, d))
      mstOracleSql(budget, budget)
    } { (s, d) =>
      val undw = knnUndW(s, d)
      val budget = mstBudget(
        undw.select(col("a").as("n")).unionAll(undw.select(col("b").as("n")))
          .distinct().count())
      graft.ext.Graph.maxSpanningBackbone(undw, budget, budget)
        .orderBy("a", "b")
    },

    // Degree assortativity (r15): Pearson correlation of endpoint
    // degrees over the directed edge list (each undirected edge counted
    // both ways — Newman 2002's convention) on the supplier kNN graph.
    // The one-number structural summary beside triangles/coreness: do
    // hubs attach to hubs (r > 0) or to leaves (r < 0)? kNN graphs are
    // typically disassortative — the top-3 rule caps out-degree, so
    // high-degree nodes are the popular TARGETS of many low-degree
    // pickers. All moments are exact BIGINT sums of degree products
    // (deg ≤ n, m ≤ 3n — far inside long range at any scale); the only
    // floating point is the final covariance/sqrt-variance expression —
    // each moment is cast to DOUBLE BEFORE the m·Σxy combination (the
    // raw BIGINT product overflows at ~3e9 edges; the double form is
    // the same pointwise IEEE expression on both engines) — emitted on
    // the u6 grid.
    QueryDef(
      "ext_assortativity",
      knnUndSql +
      """,
        |adj AS (SELECT a AS u, b AS v FROM und
        |        UNION ALL SELECT b AS u, a AS v FROM und),
        |dg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
        |       FROM adj GROUP BY u),
        |de AS (
        |  SELECT x.d AS dx, y.d AS dy
        |  FROM adj e JOIN dg x ON e.u = x.node JOIN dg y ON e.v = y.node),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
        |         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
        |         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
        |         CAST(SUM(dy * dy) AS BIGINT) AS syy
        |  FROM de)
        |SELECT m,
        |       CAST(FLOOR((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                  / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                     * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
        |                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |                  * 1e6 + 0.5) AS BIGINT) AS assort6u
        |FROM ag""".stripMargin) { (s, d) =>
      val und = knnUnd(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      val dg = adj.groupBy(col("u").as("node"))
        .agg(count(lit(1)).cast("long").as("d"))
      val de = adj
        .join(dg.select(col("node").as("u"), col("d").as("dx")), "u")
        .join(dg.select(col("node").as("v"), col("d").as("dy")), "v")
      de.agg(
          count(lit(1)).cast("long").as("m"),
          sum(col("dx")).cast("long").as("sx"),
          sum(col("dy")).cast("long").as("sy"),
          sum(col("dx") * col("dy")).cast("long").as("sxy"),
          sum(col("dx") * col("dx")).cast("long").as("sxx"),
          sum(col("dy") * col("dy")).cast("long").as("syy"))
        .select(col("m"),
          floor((col("m").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("m").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("m").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double")))
            * lit(1e6) + lit(0.5)).cast("long").as("assort6u"))
    }
  )

  /** Weighted twin of [[knnUnd]]: keeps the co-order count as the edge
    * affinity w (symmetric by construction, MAX is a no-op collapse of
    * the two directions). Served from [[KnnFixture]]. */
  private def knnUndW(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = KnnFixture.undw(s, d)

  /** Session-memoized supplier co-order kNN graph (VERDICT r14 item 1).
    *
    * Eight rows (triangles, clustering coeff, k-core, link prediction,
    * BFS, random walk, assortativity, MST backbone) previously rebuilt
    * the identical prologue — lineitem self-join -> co-order counts ->
    * per-supplier top-3 — per row; at the 1000x fixture that 600M-row
    * self-join + aggregate is ~90% of ext_mst_backbone's wall and the
    * dominant cost of the family. Here it is computed ONCE per
    * (session, sfDir) and every derived frame (directed knn, und, undw)
    * is served from the memo, checkpoint-backed with a stats cut so
    * iterative consumers neither recompute lineage nor snowball
    * cardinality estimates (the localCheckpoint/originStats hazard).
    *
    * Scale posture of the one-shot prologue itself:
    *   - the co-order aggregate repartitions ADAPTIVELY on (u, v) —
    *     partition count derives from the lineitem row count so reduce
    *     tasks stay near a fixed row budget instead of inheriting the
    *     session's 32 shuffle partitions (56M rows/task at 1000x was
    *     the heap-OOM at the default 8g/32-thread config);
    *   - top-3 selection is the bounded-heap `topk_by_score` aggregate
    *     (map-side combinable, 3 rows per supplier per map task cross
    *     the wire) instead of a row_number window that shuffles and
    *     sorts EVERY co-order pair. Tie order (c DESC, v ASC) is
    *     identical to the window's ORDER BY, so results are unchanged.
    *
    * The memo holds at most [[MaxEntries]] fixtures (LRU); eviction
    * unpersists the backing checkpoint RDDs through both storage paths.
    * Frames are kNN-sized (<= 3 edges/node), a few MB even at 1000x. */
  /** Session-scoped memo of checkpoint-backed fixture frames, keyed by
    * (session, sfDir) — the sharing mechanism for [[KnnFixture]] and
    * [[ErFixture]]. Each entry's frames are cut with
    * [[graft.ext.Checkpoints.cutWithoutStats]] (a checkpoint keeps its
    * origin's statistics, which snowball across iterative self-joins —
    * MstSpec). Bounded LRU: eviction unpersists the backing
    * checkpoint RDDs through both storage paths. Survives the
    * per-query `clearCache()`/`Caches.releaseAll` hygiene in
    * Verify/Bench by design — localCheckpoint persistence is RDD-level,
    * not a CacheManager entry, and these frames are deliberately NOT
    * `Caches.track`ed: they are the cross-query share. */
  private final class FixtureMemo(
      maxEntries: Int,
      build: (org.apache.spark.sql.SparkSession, String)
        => Seq[org.apache.spark.sql.DataFrame]) {
    import org.apache.spark.sql.{DataFrame, SparkSession}

    private val memo =
      scala.collection.mutable.LinkedHashMap.empty[(SparkSession, String), Seq[DataFrame]]

    def get(s: SparkSession, d: String): Seq[DataFrame] = synchronized {
      // purge entries whose owning session has stopped (common in test
      // suites that cycle sessions): their checkpoint RDDs died with the
      // context — serving them would fail, and unpersisting them throws
      // (ADVICE r15). Nothing to release; the context took the blocks
      // with it. NOTE the residual staleness seam: entries are keyed by
      // (session, dir), so a fixture REWRITTEN under an unchanged path
      // mid-session (a _built_* marker-version bump) would serve the old
      // frames — marker bumps ship with code changes (fresh JVM, empty
      // memo), so the seam is unreachable in practice; rebuilders that
      // hit it must cycle the session.
      memo.keys.filter(_._1.sparkContext.isStopped).toList
        .foreach(memo.remove)
      val k = (s, d)
      memo.remove(k) match {
        case Some(e) => memo.put(k, e); e   // refresh LRU position
        case None =>
          val e = build(s, d).map(graft.ext.Checkpoints.cutWithoutStats)
          memo.put(k, e)
          if (memo.size > maxEntries) {
            val (oldK, oldE) = memo.head
            memo.remove(oldK)
            // eviction must never fail the CURRENT query: a concurrent
            // stop between the purge above and here still throws inside
            // hardUnpersist, so best-effort it
            try {
              if (!oldK._1.sparkContext.isStopped)
                oldE.foreach(graft.ext.Caches.hardUnpersist)
            } catch { case _: Exception => () }
          }
          e
      }
    }
  }

  private object KnnFixture {
    import org.apache.spark.sql.{DataFrame, SparkSession}

    private def build(s: SparkSession, d: String): Seq[DataFrame] = {
      // Adaptive reduce width: the session's 32 shuffle partitions put
      // ~19M fact rows / ~56M pair rows in each task at the 1000x
      // fixture — the measured heap-OOM. Budget ~2M rows per reduce
      // task instead; the row count comes from the parquet footers on
      // the driver (r21) — exact and job-free next to the shuffles it
      // sizes.
      val nLi = Tables.parquetRowCount(s, d, "lineitem")
      val defP = s.sessionState.conf.numShufflePartitions
      val p = math.max(defP, math.min(4096L, nLi / 2000000L + 1L).toInt)
      // Co-order counts WITHOUT the fact self-join: group the fact to
      // per-order DISTINCT supplier sets (collect_set dedups, bounded
      // by the per-order supplier fan-out — single digits at any TPC-H
      // scale), then explode the unordered pairs NARROWLY. The former
      // self-join shape sorted 600M rows twice for an SMJ whose output
      // (1.8B pair rows) then re-shuffled; this shape pays ONE fact
      // shuffle (hash by orderkey) and the pair stream never shuffles
      // at all — partial aggregation collapses it map-side before the
      // (u, v) exchange. Per-order set cardinality bounds both the
      // row width and the pair fan-out, so task memory is flat in
      // corpus size once p tracks the row count.
      val sets = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"))
        .repartition(p, col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(collect_set(col("l_suppkey")).as("ss"))
        .filter(size(col("ss")) >= 2)
      val co = sets
        .select(explode(col("ss")).as("u"), col("ss"))
        .select(col("u"), explode(col("ss")).as("v"))
        .filter(col("u") =!= col("v"))
        .repartition(p, col("u"), col("v"))
        .groupBy("u", "v")
        .agg(count(lit(1)).as("c"))
      val knn = co
        .groupBy("u")
        .agg(topKByScore(col("c").cast("double"), col("v"), 3).as("top"))
        .select(col("u"), explode(col("top")).as("t"))
        .select(col("u"), col("t.id").as("v"),
          col("t.score").cast("long").as("c"))
      Seq(knn)
    }

    private val memo = new FixtureMemo(4, build)

    /** Directed kNN edges (u, v, c): each supplier's top-3 co-order
      * partners by (count DESC, id). Every u with >= 1 co-order row
      * keeps its top-1, so DISTINCT u here equals DISTINCT u of the
      * full co-order pair set (ext_triangle_count's n_nodes). */
    def knn(s: SparkSession, d: String): DataFrame = memo.get(s, d).head

    // und/undw derive from the memoized knn (one tiny shuffle over
    // <= 3n rows each), memoized and checkpoint-cut themselves because
    // their consumers iterate (k-core peel, Borůvka) or self-join.
    private val undMemo = new FixtureMemo(4, (s, d) => Seq(
      knn(s, d).select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct(),
      knn(s, d).select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"), col("c"))
        .groupBy("a", "b").agg(max(col("c")).as("w"))))

    /** Id-ordered deduped undirected edges (a, b). */
    def und(s: SparkSession, d: String): DataFrame = undMemo.get(s, d)(0)
    /** Weighted undirected edges (a, b, w = max co-order count). */
    def undw(s: SparkSession, d: String): DataFrame = undMemo.get(s, d)(1)
  }

  /** Session-memoized verified fuzzy-match edge set (VERDICT r14
    * item 2): `ext_entity_linkage` / `ext_entity_components` /
    * `ext_label_prop` all consume the SAME `Graph.erMatches(part)`
    * candidate + levenshtein-verify pairs — ~10 s of repeated verify
    * work per bench run when built per row. One build per
    * (session, sfDir); the edge frame is matched-pairs-sized (tiny). */
  private object ErFixture {
    import org.apache.spark.sql.{DataFrame, SparkSession}

    private val memo = new FixtureMemo(4,
      (s, d) => Seq(graft.ext.Graph.erMatches(Tables.part(s, d))))

    /** Verified match pairs (pa < pb). */
    def edges(s: SparkSession, d: String): DataFrame = memo.get(s, d).head
  }

  /** Node count of the weighted kNN graph — the shared input to
    * [[mstBudget]] on both the Spark and oracle sides. */
  private def knnNodeCount(s: org.apache.spark.sql.SparkSession,
      d: String): Long = {
    val undw = knnUndW(s, d)
    undw.select(col("a").as("n")).unionAll(undw.select(col("b").as("n")))
      .distinct().count()
  }

  /** ceil(log2 n) + 1: Borůvka component count at least halves per
    * round, and hook-chains are depth-bounded by the component count —
    * so this budget serves both rounds and jumps. */
  private def mstBudget(n: Long): Int =
    math.max(1, math.ceil(
      math.log(math.max(n, 2).toDouble) / math.log(2.0)).toInt + 1)

  /** One unrolled Borůvka round over CTEs `undw` (a, b, w) and
    * `cmp{r-1}` (node, comp): per-comp best pick under the total order
    * (w DESC, a, b), hook, 2-cycle break toward the smaller comp id,
    * `jumps` pointer jumps, contracted `cmp{r}`. MATERIALIZED — every
    * stage is referenced at least twice. */
  private def mstRoundSql(r: Int, jumps: Int): String = {
    val prev = s"cmp${r - 1}"
    val jumpCtes = (1 to jumps).map { j =>
      val pj = if (j == 1) s"parc$r" else s"parj${r}_${j - 1}"
      s"""parj${r}_$j AS MATERIALIZED (
         |  SELECT x.c AS c, y.p AS p FROM $pj x JOIN $pj y ON x.p = y.c)"""
        .stripMargin
    }.mkString(",\n")
    s"""ce$r AS MATERIALIZED (
       |  SELECT e.a, e.b, e.w, x.comp AS ca, y.comp AS cb
       |  FROM undw e JOIN $prev x ON e.a = x.node
       |              JOIN $prev y ON e.b = y.node
       |  WHERE x.comp <> y.comp),
       |best$r AS MATERIALIZED (
       |  SELECT c, oc, a, b, w FROM (
       |    SELECT c, oc, a, b, w,
       |           ROW_NUMBER() OVER (PARTITION BY c
       |                              ORDER BY w DESC, a, b) AS rn
       |    FROM (SELECT ca AS c, cb AS oc, a, b, w FROM ce$r
       |          UNION ALL SELECT cb AS c, ca AS oc, a, b, w FROM ce$r))
       |  WHERE rn = 1),
       |pick$r AS MATERIALIZED (SELECT DISTINCT a, b, w FROM best$r),
       |par${r}_0 AS MATERIALIZED (
       |  SELECT ac.comp AS c, COALESCE(bs.oc, ac.comp) AS p
       |  FROM (SELECT DISTINCT comp FROM $prev) ac
       |  LEFT JOIN best$r bs ON ac.comp = bs.c),
       |parc$r AS MATERIALIZED (
       |  SELECT x.c AS c,
       |         CASE WHEN y.p = x.c AND x.c < x.p THEN x.c ELSE x.p END AS p
       |  FROM par${r}_0 x JOIN par${r}_0 y ON x.p = y.c),
       |$jumpCtes,
       |cmp$r AS MATERIALIZED (
       |  SELECT m.node, j.p AS comp
       |  FROM $prev m JOIN parj${r}_$jumps j ON m.comp = j.c)""".stripMargin
  }

  /** Full unrolled-Borůvka oracle: weighted-graph prologue + `rounds`
    * rounds + the deduped union of every round's picks. */
  private def mstOracleSql(rounds: Int, jumps: Int): String = {
    val prologue =
      """WITH co AS MATERIALIZED (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |         COUNT(DISTINCT a.l_orderkey) AS c
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
        |  GROUP BY 1, 2),
        |knnw AS (SELECT u, v, c FROM (
        |  SELECT u, v, c, ROW_NUMBER() OVER (PARTITION BY u
        |                                     ORDER BY c DESC, v) AS rn
        |  FROM co) WHERE rn <= 3),
        |undw AS MATERIALIZED (
        |  SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b, MAX(c) AS w
        |  FROM knnw GROUP BY 1, 2),
        |cmp0 AS MATERIALIZED (
        |  SELECT node, node AS comp FROM (
        |    SELECT a AS node FROM undw UNION SELECT b AS node FROM undw))"""
        .stripMargin
    val body = (1 to rounds).map(mstRoundSql(_, jumps)).mkString(",\n")
    val union = (1 to rounds).map(r => s"SELECT a, b, w FROM pick$r")
      .mkString("\n  UNION ALL ")
    s"""$prologue,
       |$body
       |SELECT a, b, CAST(w AS BIGINT) AS w FROM (
       |  SELECT DISTINCT a, b, w FROM (
       |  $union))
       |ORDER BY a, b""".stripMargin
  }
}
