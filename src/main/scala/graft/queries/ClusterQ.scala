package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Checkpoints.CutOps
import graft.functions.GraftFunctions.{cosineSim, topKByScore}

/** Clustering / linear-algebra family over the embeddings table:
  * distributed Lloyd's k-means, the d x d covariance matrix, and PCA
  * projection (ext.Embeddings). Reference precedent: samsa has no vector
  * operations (SURVEY §2.1) — this is declared extension surface (§2.3),
  * the clustering/statistics layer a training-data pipeline needs for
  * SemDeDup-style cluster pruning and embedding-space diagnostics.
  *
  * Oracle discipline: every cross-engine double reduction folds a SORTED
  * value list (bit-identical regardless of accumulation order — the
  * emb_centroid_per_label discipline); distances fold (x_i-c_i)^2 in
  * index order on both sides (SquaredL2 ≡ DuckDB list_reduce); outputs
  * land on the FLOOR(x * 1e6 + 0.5) BIGINT micro-unit grid (Det.u6).
  * r10: ROUND(raw double, N) is banned from the oracle surface — the
  * half-up FLOOR form is pure IEEE arithmetic, identical across engine
  * versions, while DuckDB's double-ROUND changed digit-boundary
  * behavior across releases (the r9 emb_kmeans/emb_covariance
  * driver-red seam).
  */
object ClusterQ {

  /** emb_pca_project_highdim knobs: lift the 64-dim fixture to 1536
    * dims (well past jacobiEigen's 1024 routing bound, inside a real
    * model-embedding range) and keep the top 4 components. */
  private val PcaHiD = 1536
  private val PcaHiK = 4

  /** ONE power-iteration fit per (session, fixture) for the high-dim
    * PCA row (ADVICE r16): the lazy-oracle SQL generator and the query
    * closure both read this memo, so the inlined oracle constants and
    * the projected values come from the SAME (mu, components,
    * explained) factors by construction — no reliance on refit
    * determinism across treeAggregate partitionings. The memo holds
    * only driver-side arrays (d x (k+1) doubles, ~50 KB); the lifted
    * frame itself is persisted through Caches for the fit pass and
    * rebuilt cheaply by later projections. pcaProject's d > 1024
    * PRODUCTION routing stays pinned by ClusterSpec (planted-spectrum
    * d = 1200) and the probe-guard tests — the registry row's job is
    * the oracle-checked projection, not the router. */
  private val pcaHiMemo = new scala.collection.concurrent.TrieMap[
    (org.apache.spark.sql.SparkSession, String),
    (Array[Double], Array[Array[Double]], Double)]
  private def pcaHiFit(s: org.apache.spark.sql.SparkSession, d: String)
      : (Array[Double], Array[Array[Double]], Double) = {
    pcaHiMemo.keys.filter(_._1.sparkContext.isStopped).toList
      .foreach(pcaHiMemo.remove)
    pcaHiMemo.getOrElseUpdate((s, d), {
      val emb = graft.ext.Caches.track(
        graft.ext.Embeddings.jlExpand(Tables.embeddings(s, d), PcaHiD, 64)
          .persist())
      val (_, mu, _, comps, explained) =
        graft.ext.Embeddings.topKComponentsPowerIteration(emb, k = PcaHiK)
      (mu, comps, explained)
    })
  }

  val all: Seq[QueryDef] = Seq(

    // Lloyd's k-means, k=8, one full assign+update sweep then the final
    // assignment. Seeds = the k lowest vec_ids (deterministic). Assign is
    // a broadcast map + map-side-combinable min_by argmin (no Window);
    // update is one (cell, dim) aggregation. The DuckDB oracle unrolls
    // the identical two assignments and the sorted-fold centroid means.
    QueryDef(
      "emb_kmeans",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM e WHERE vec_id < 8),
        |a1 AS (
        |  SELECT vec_id, cell, v,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |  FROM (
        |    SELECT e.vec_id, c0.cell, e.v,
        |           list_reduce(list_transform(range(1, len(e.v) + 1),
        |             i -> (e.v[i] - c0.cv[i]) * (e.v[i] - c0.cv[i])), (a, b) -> a + b) AS d
        |    FROM e CROSS JOIN c0)),
        |m1 AS (SELECT vec_id, cell, v FROM a1 WHERE rn = 1),
        |c1 AS (
        |  SELECT cell, list(cm ORDER BY dim) AS cv
        |  FROM (
        |    SELECT cell, t.i AS dim,
        |           list_reduce(list_sort(list(v[t.i])), (a, b) -> a + b) / COUNT(*) AS cm
        |    FROM m1, unnest(range(1, len(v) + 1)) AS t(i)
        |    GROUP BY cell, t.i)
        |  GROUP BY cell),
        |a2 AS (
        |  SELECT vec_id, cell, d,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |  FROM (
        |    SELECT e.vec_id, c1.cell,
        |           list_reduce(list_transform(range(1, len(e.v) + 1),
        |             i -> (e.v[i] - c1.cv[i]) * (e.v[i] - c1.cv[i])), (a, b) -> a + b) AS d
        |    FROM e CROSS JOIN c1))
        |SELECT vec_id, cell, CAST(FLOOR(d * 1e6 + 0.5) AS BIGINT) AS dist6u
        |FROM a2 WHERE rn = 1""".stripMargin) { (s, d) =>
      graft.ext.Embeddings.lloyd(Tables.embeddings(s, d), k = 8, iters = 1,
          exact = true)
        .select(col("vec_id"), col("cell"),
          graft.Det.u6(col("d")).as("dist6u"))
    },

    // The d x d covariance matrix (upper triangle, unbiased), the
    // distributed statistic behind PCA/whitening. Cross-engine
    // discipline: 1e-12 floor-quantized decimal sums (the ext_pagerank
    // pattern — order-independent AND map-side combinable, so this
    // registry row itself scales; r9 replaced the sorted-fold
    // collect_list which buffered n values per group). The production
    // path for one matrix is still ext.Embeddings.meanAndCovariance —
    // ONE treeAggregate pass, d(d+1)/2 doubles per partition, no row
    // shuffle (cross-checked against the definition in ClusterSpec).
    QueryDef(
      "emb_covariance",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, CAST(t.i AS INT) AS i, v[t.i] AS x
        |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
        |mu AS (
        |  SELECT i,
        |         CAST(SUM(CAST(FLOOR(x * 1e12) AS DECIMAL(38,0))) AS DOUBLE)
        |           / 1e12 / COUNT(*) AS m
        |  FROM ex GROUP BY i),
        |ctr AS (
        |  SELECT ex.vec_id, ex.i, ex.x - mu.m AS c
        |  FROM ex JOIN mu USING (i)),
        |p AS (
        |  SELECT a.i AS i, b.i AS j, a.c * b.c AS pr
        |  FROM ctr a JOIN ctr b ON a.vec_id = b.vec_id AND a.i <= b.i)
        |SELECT i, j,
        |       CAST(FLOOR(
        |         CAST(SUM(CAST(FLOOR(pr * 1e12) AS DECIMAL(38,0))) AS DOUBLE)
        |           / 1e12 / (COUNT(*) - 1) * 1e6 + 0.5) AS BIGINT) AS cov6u
        |FROM p GROUP BY i, j""".stripMargin) { (s, d) =>
      // r9: cross-row sums ride the pageRank 1e-12 floor-quantized
      // decimal pattern (order-independent, map-side combinable) instead
      // of the sorted-fold collect_list — the registry row is now itself
      // scale-safe (no per-group value buffer) AND ~2× faster. r10: the
      // final value lands on the FLOOR micro-unit grid (not ROUND): both
      // engines divide the identical quantized sum by the identical 1e12
      // and (n-1), so the double is bit-identical, and FLOOR of it is
      // version-independent where ROUND-at-6-decimals was not.
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val ex = e.select(col("vec_id"), posexplode(col("v")).as(Seq("i0", "x")))
        .select(col("vec_id"), (col("i0") + 1).cast("int").as("i"), col("x"))
      val mu = ex.groupBy("i")
        .agg(
          (sum(floor(col("x") * lit(1.0e12)).cast(DecimalType(38, 0)))
            .cast("double") / lit(1.0e12) / count(lit(1))).as("m"))
      val ctr = ex.join(broadcast(mu), "i")
        .select(col("vec_id"), col("i"), (col("x") - col("m")).as("c"))
      ctr.as("a")
        .join(ctr.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
        .select(col("a.i").as("i"), col("b.i").as("j"),
          (col("a.c") * col("b.c")).as("pr"))
        .groupBy("i", "j")
        .agg(
          sum(floor(col("pr") * lit(1.0e12)).cast(DecimalType(38, 0)))
            .cast("double").as("su"),
          count(lit(1)).as("n"))
        .select(col("i"), col("j"),
          graft.Det.u6(col("su") / lit(1.0e12) / (col("n") - 1)).as("cov6u"))
    },

    // PCA projection onto the top-2 principal components: one-pass
    // covariance (treeAggregate, no shuffle) -> driver Jacobi eigen ->
    // broadcast map-only projection. r10 (VERDICT r9 item 5): the
    // PROJECTION half is oracle-checked via a LAZY oracle — Verify
    // refits the (deterministic) eigenbasis and inlines mean +
    // components as exact shortest-round-trip double literals, so
    // DuckDB recomputes the per-row index-order fold (v[i]-mu[i])*w[i]
    // bit-identically and the u6 grids hash-match. The eigen step
    // itself stays test-verified (ClusterSpec planted-structure
    // invariants: component alignment, variance ordering, covariance
    // cross-check). Determinism note: the query run and the oracle
    // generation both fit on the same session/splits, and
    // treeAggregate's combine order is fixed given the partitioning.
    QueryDef.lazyOracle("emb_pca_project") { (s, d) =>
      val (_, mu, cov) =
        graft.ext.Embeddings.meanAndCovariance(Tables.embeddings(s, d))
      val (vals, vecs) = graft.ext.Embeddings.jacobiEigen(cov)
      val total = vals.map(math.max(_, 0.0)).sum
      val explained =
        if (total == 0.0) 0.0
        else vals.take(2).map(math.max(_, 0.0)).sum / total
      // r10 hardening: E-notation literals parse directly as DOUBLE
      // (VecOracle.dbl) — the plain-decimal form rode DuckDB's
      // not-correctly-rounded DECIMAL→DOUBLE cast (1-ulp hazard).
      def lst(a: Array[Double]) = a.map(VecOracle.dbl).mkString("[", ", ", "]")
      def pc(w: String, alias: String) =
        s"""CAST(FLOOR(list_reduce(list_transform(range(1, len(v) + 1),
           |    i -> (v[i] - mu[i]) * $w[i]), (a, b) -> a + b)
           |    * 1e6 + 0.5) AS BIGINT) AS $alias""".stripMargin
      s"""WITH consts AS (
         |  SELECT ${lst(mu)} AS mu, ${lst(vecs(0))} AS w0, ${lst(vecs(1))} AS w1),
         |e AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT vec_id, label,
         |  ${pc("w0", "pc1_u6")},
         |  ${pc("w1", "pc2_u6")},
         |  CAST(${math.floor(explained * 1e6 + 0.5).toLong} AS BIGINT) AS var_explained_u6
         |FROM e CROSS JOIN consts""".stripMargin
    } { (s, d) =>
      val (proj, explained) =
        graft.ext.Embeddings.pcaProject(Tables.embeddings(s, d), k = 2)
      proj.select(col("vec_id"), col("label"),
          graft.Det.u6(col("pc").getItem(0)).as("pc1_u6"),
          graft.Det.u6(col("pc").getItem(1)).as("pc2_u6"),
          lit(math.floor(explained * 1e6 + 0.5).toLong).as("var_explained_u6"))
        .orderBy("vec_id")
    },

    // PCA whitening (r14, part 3): project onto the top-2 eigenbasis
    // AND rescale each coordinate by 1/sqrt(eigenvalue) — the
    // decorrelate-to-unit-variance transform run before cosine/L2
    // comparisons on anisotropic embedding spaces (and the first half
    // of ZCA). The 1/sqrt(λ) factors are DRIVER-side doubles inlined
    // as E-notation literals in BOTH the oracle and the Spark plan, so
    // no radical crosses the engine boundary; the projection fold is
    // the emb_pca_project index-ordered expression bit-for-bit.
    // ClusterSpec gates the semantics: whitened coordinates have unit
    // sample variance and ~zero cross-covariance.
    QueryDef.lazyOracle("emb_pca_whiten") { (s, d) =>
      val (_, mu, cov) =
        graft.ext.Embeddings.meanAndCovariance(Tables.embeddings(s, d))
      val (vals, vecs) = graft.ext.Embeddings.jacobiEigen(cov)
      val sc0 = 1.0 / math.sqrt(math.max(vals(0), 1e-300))
      val sc1 = 1.0 / math.sqrt(math.max(vals(1), 1e-300))
      def lst(a: Array[Double]) = a.map(VecOracle.dbl).mkString("[", ", ", "]")
      def zw(w: String, f: Double, alias: String) =
        s"""CAST(FLOOR(list_reduce(list_transform(range(1, len(v) + 1),
           |    i -> (v[i] - mu[i]) * $w[i]), (a, b) -> a + b)
           |    * ${VecOracle.dbl(f)} * 1e6 + 0.5) AS BIGINT) AS $alias""".stripMargin
      s"""WITH consts AS (
         |  SELECT ${lst(mu)} AS mu, ${lst(vecs(0))} AS w0, ${lst(vecs(1))} AS w1),
         |e AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT vec_id, label,
         |  ${zw("w0", sc0, "zw1_u6")},
         |  ${zw("w1", sc1, "zw2_u6")}
         |FROM e CROSS JOIN consts""".stripMargin
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (_, _, cov) = graft.ext.Embeddings.meanAndCovariance(emb)
      val (vals, _) = graft.ext.Embeddings.jacobiEigen(cov)
      val sc0 = 1.0 / math.sqrt(math.max(vals(0), 1e-300))
      val sc1 = 1.0 / math.sqrt(math.max(vals(1), 1e-300))
      val (proj, _) = graft.ext.Embeddings.pcaProject(emb, k = 2)
      proj.select(col("vec_id"), col("label"),
          floor(col("pc").getItem(0) * lit(sc0) * lit(1e6) + lit(0.5))
            .cast("long").as("zw1_u6"),
          floor(col("pc").getItem(1) * lit(sc1) * lit(1e6) + lit(0.5))
            .cast("long").as("zw2_u6"))
        .orderBy("vec_id")
    },

    // HIGH-DIMENSIONAL PCA (r16, VERDICT r15 item 1): the d > 1024
    // regime real embedding models live in (768..4096 dims), where
    // jacobiEigen's driver-side O(d^3) refusal used to be a dead end.
    // The fixture is LIFTED to d = 1536 by a deterministic md5-derived
    // expansion matrix (both engines re-derive the identical doubles
    // from the same formula — no 98k-literal R in the SQL), then the
    // top-4 components come from DISTRIBUTED subspace iteration: each
    // Cov·Q product is one treeAggregate pass with a d x k accumulator,
    // the d x d covariance never exists anywhere. LAZY oracle in the
    // emb_pca_project pattern: mean + components inlined as exact
    // E-notation literals, DuckDB re-lifts the corpus and reproduces
    // the index-ordered projection folds bit-for-bit on the u6 grid.
    // The eigen ACCURACY is pinned in ClusterSpec (power-iteration
    // factors vs exact jacobiEigen at d = 64; planted spectrum at
    // d = 1200 where only the distributed path can run).
    QueryDef.lazyOracle("emb_pca_project_highdim") { (s, d) =>
      val (mu, comps, explained) = pcaHiFit(s, d)
      def lst(a: Array[Double]) = a.map(VecOracle.dbl).mkString("[", ", ", "]")
      def pc(w: String, alias: String) =
        s"""CAST(FLOOR(list_reduce(list_transform(range(1, ${PcaHiD + 1}),
           |    i -> (vh[i] - mu[i]) * $w[i]), (a, b) -> a + b)
           |    * 1e6 + 0.5) AS BIGINT) AS $alias""".stripMargin
      val ws = (0 until PcaHiK).map(c => s"${lst(comps(c))} AS w$c").mkString(",\n  ")
      s"""WITH rtab AS (
         |  SELECT i, list_transform(range(0, 64), j ->
         |    CAST(CAST(concat('0x', substr(md5(concat('r_', i, '_', j)), 1, 15))
         |       AS BIGINT) % 2001 - 1000 AS DOUBLE) / CAST(1000 AS DOUBLE)) AS rrow
         |  FROM range(0, $PcaHiD) AS t(i)),
         |rmat AS (SELECT list(rrow ORDER BY i) AS rm FROM rtab),
         |consts AS (
         |  SELECT ${lst(mu)} AS mu,
         |  $ws),
         |e AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |eh AS (
         |  SELECT vec_id, label,
         |         list_transform(range(1, ${PcaHiD + 1}), i ->
         |           list_reduce(list_transform(range(1, 65), j -> rm[i][j] * v[j]),
         |             (a, b) -> a + b)) AS vh
         |  FROM e CROSS JOIN rmat)
         |SELECT vec_id, label,
         |  ${(0 until PcaHiK).map(c => pc(s"w$c", s"pc${c + 1}_u6")).mkString(",\n  ")},
         |  CAST(${math.floor(explained * 1e6 + 0.5).toLong} AS BIGINT) AS var_explained_u6
         |FROM eh CROSS JOIN consts""".stripMargin
    } { (s, d) =>
      // ONE fit feeds both the oracle constants and this projection
      // (pcaHiFit memo, ADVICE r16); the projection itself is the same
      // map-only broadcast-components stage pcaProject's d > 1024
      // branch runs
      val (mu, comps, explained) = pcaHiFit(s, d)
      val emb =
        graft.ext.Embeddings.jlExpand(Tables.embeddings(s, d), PcaHiD, 64)
      val proj = graft.ext.Embeddings.projectOnto(emb, mu, comps)
      proj.select(
        Seq(col("vec_id"), col("label")) ++
          (0 until PcaHiK).map(c =>
            graft.Det.u6(col("pc").getItem(c)).as(s"pc${c + 1}_u6")) :+
          lit(math.floor(explained * 1e6 + 0.5).toLong).as("var_explained_u6"): _*)
        .orderBy("vec_id")
    },

    // Product quantization encode (m=8 subspaces, 16 centroids each, 2
    // Lloyd sweeps): the vector-compression half of an IVF-PQ ANN index —
    // 64 float dims become 8 nibble codes. r10: LAZY oracle — Verify
    // refits the (since-r10 bit-deterministic: quantized-exact centroid
    // means, s-ordered recon fold) codebook and inlines all m·ksub
    // entries; DuckDB reproduces subvector slicing, per-subspace argmin
    // (ties to the lowest code) and the s-ordered distortion fold
    // bit-for-bit. The TRAINING stays test-verified: monotone
    // distortion, determinism and planted-codebook recovery are
    // REQUIREd in ClusterSpec. Codes are JSON-wrapped (driver
    // comparator contract for array outputs).
    QueryDef.lazyOracle("emb_pq_encode") { (s, d) =>
      val m = 8
      val (cbDf, subLen) =
        graft.ext.Embeddings.pqTrain(Tables.embeddings(s, d), m = m)
      val cb = cbDf.select("s", "cell", "cv").collect()
        .map(r => (r.getInt(0), r.getInt(1),
          r.getSeq[Double](2).toArray))
        .sortBy(t => (t._1, t._2))
      val rows = cb.map { case (ss, cc, cv) =>
        s"($ss, $cc, ${VecOracle.dlst(cv)})" }.mkString(",\n  ")
      s"""WITH cb AS (SELECT CAST(s AS INT) AS s, CAST(cell AS INT) AS cell, cv
         |  FROM (VALUES
         |  $rows) AS _cb(s, cell, cv)),
         |e AS (SELECT vec_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |svs AS (
         |  SELECT vec_id, CAST(t.s AS INT) AS s,
         |         v[CAST(t.s * $subLen + 1 AS INT):CAST((t.s + 1) * $subLen AS INT)] AS sv
         |  FROM e, unnest(range(0, $m)) AS t(s)),
         |dists AS (
         |  SELECT svs.vec_id, svs.s, cb.cell,
         |         ${VecOracle.sqL2("svs.sv", "cb.cv")} AS dd
         |  FROM svs JOIN cb ON cb.s = svs.s),
         |asg AS (
         |  SELECT vec_id, s, cell, dd FROM (
         |    SELECT vec_id, s, cell, dd,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, s
         |             ORDER BY dd, cell) AS rn
         |    FROM dists)
         |  WHERE rn = 1)
         |SELECT vec_id,
         |       CAST(to_json(list(cell ORDER BY s)) AS VARCHAR) AS codes_json,
         |       CAST(FLOOR(list_reduce(list(dd ORDER BY s), (a, b) -> a + b)
         |         * 1e6 + 0.5) AS BIGINT) AS recon_u6
         |FROM asg GROUP BY vec_id""".stripMargin
    } { (s, d) =>
      graft.ext.Embeddings.pqEncode(Tables.embeddings(s, d))
        .select(col("vec_id"), to_json(col("codes")).as("codes_json"),
          graft.Det.u6(col("recon_sq_err")).as("recon_u6"))
        .orderBy("vec_id")
    },

    // IVF-PQ approximate top-k (the billion-scale ANN index layout,
    // IVFADC form): coarse cells route each query, ADC over RESIDUAL PQ
    // codes scores candidates — O(m) adds per candidate, corpus held as
    // codes — then an exact re-rank of the broadcast-bounded shortlist
    // (refine*k ids/query, FAISS IndexRefineFlat pattern) emits true
    // distances. r10: LAZY oracle — ivfPqFit's state (coarse centroids
    // + residual codebook) is bit-deterministic since the quantized-
    // exact Lloyd/PQ means, so Verify inlines the WHOLE model and
    // DuckDB reproduces routing, residuals, PQ codes, the per-
    // (query,cell) ADC lookup (s-ordered fold), the refine·k shortlist
    // and the exact re-rank bit-for-bit. Planted-cluster recall@10
    // >= 0.9 vs brute force stays REQUIREd in ClusterSpec.
    QueryDef.lazyOracle("ext_ivfpq_topk") { (s, d) =>
      val mm = 8; val subq = 16; val k = 10
      val model = graft.ext.Embeddings.ivfPqFit(
        Tables.embeddings(s, d), m = mm, ksub = subq)
      // r17: refine depth is auto-derived (constant shortlist FRACTION —
      // see Embeddings.autoRefine); the oracle derives it from the SAME
      // fitted model the query run uses, so both sides stay in lockstep
      // (resolves to the old 16 at every fixture scale)
      val refineTake =
        graft.ext.Embeddings.autoRefine(model.n, model.nc, model.np, k) * k
      val subLen = model.subLen
      val np = model.np
      val centRows = model.coarse.map { case (c, w) =>
        s"($c, ${VecOracle.dlst(w)})" }.mkString(",\n    ")
      val cbRows = model.codebook.map { case (s2, c, w) =>
        s"($s2, $c, ${VecOracle.dlst(w)})" }.mkString(",\n    ")
      s"""WITH cent AS (SELECT CAST(c AS INT) AS cell, cv FROM (VALUES
         |    $centRows) AS _c(c, cv)),
         |cb AS (SELECT CAST(s AS INT) AS s, CAST(c AS INT) AS code, cw
         |       FROM (VALUES
         |    $cbRows) AS _cb(s, c, cw)),
         |e AS (SELECT vec_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |asgc AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, cent.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |             ${VecOracle.sqL2("v", "cent.cv")},
         |             cent.cell) AS rn
         |    FROM e CROSS JOIN cent)
         |  WHERE rn = 1),
         |resid AS (
         |  SELECT a.vec_id, a.cell,
         |         list_transform(range(1, len(a.v) + 1),
         |           i -> a.v[i] - cent.cv[i]) AS rv
         |  FROM asgc a JOIN cent USING (cell)),
         |rsv AS (
         |  SELECT vec_id, cell, CAST(t.s AS INT) AS s,
         |         rv[CAST(t.s * $subLen + 1 AS INT):CAST((t.s + 1) * $subLen AS INT)] AS sv
         |  FROM resid, unnest(range(0, $mm)) AS t(s)),
         |codes AS (
         |  SELECT vec_id, cell, s, code FROM (
         |    SELECT rsv.vec_id, rsv.cell, rsv.s, cb.code,
         |           ROW_NUMBER() OVER (PARTITION BY rsv.vec_id, rsv.s
         |             ORDER BY ${VecOracle.sqL2("sv", "cb.cw")},
         |             cb.code) AS rn
         |    FROM rsv JOIN cb ON cb.s = rsv.s)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 5),
         |probe AS (
         |  SELECT qid, cell, qrv FROM (
         |    SELECT q.qid, cent.cell,
         |           list_transform(range(1, len(q.v) + 1),
         |             i -> q.v[i] - cent.cv[i]) AS qrv,
         |           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |             ${VecOracle.sqL2("v", "cent.cv")},
         |             cent.cell) AS rn
         |    FROM q CROSS JOIN cent)
         |  WHERE rn <= $np),
         |comp AS (
         |  SELECT p.qid, c2.vec_id AS cid, c2.s,
         |         list_reduce(list_transform(range(1, $subLen + 1),
         |           i -> (p.qrv[c2.s * $subLen + i] - cb.cw[i])
         |              * (p.qrv[c2.s * $subLen + i] - cb.cw[i])),
         |           (x, y) -> x + y) AS ds
         |  FROM probe p JOIN codes c2 ON c2.cell = p.cell
         |       JOIN cb ON cb.s = c2.s AND cb.code = c2.code
         |  WHERE c2.vec_id <> p.qid),
         |adc AS (
         |  SELECT qid, cid,
         |         list_reduce(list(ds ORDER BY s), (x, y) -> x + y) AS adist
         |  FROM comp GROUP BY qid, cid),
         |short AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adist, cid) AS rn FROM adc)
         |  WHERE rn <= $refineTake),
         |fin AS (
         |  SELECT sh.qid, sh.cid,
         |         ${VecOracle.sqL2("q.v", "e2.v")} AS adist
         |  FROM short sh JOIN q ON q.qid = sh.qid
         |       JOIN e e2 ON e2.vec_id = sh.cid)
         |SELECT qid, cid, adist FROM (
         |  SELECT qid, cid, adist, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY adist, cid) AS rn FROM fin)
         |WHERE rn <= $k""".stripMargin
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ext.Embeddings.ivfPqTopK(
          emb, emb.filter(col("vec_id") < 5).select("vec_id"), k = 10)
        .orderBy("qid", "adist", "cid")
    },

    // KNN label prediction (r10 part 3): majority vote over the exact
    // cosine top-10 neighbors, ties to the smaller label; per-label
    // accuracy report — the "is the embedding space label-coherent"
    // diagnostic run before trusting embeddings for curation (a label-
    // incoherent space makes SemDeDup/cluster-prune decisions noise).
    // Plan: 500-query broadcast against the corpus scan, codegen
    // cosine, bounded topk_by_score heap (10 rows/query/partition cross
    // the shuffle), then label join + voting on 10·|q| rows. At corpus
    // query-cardinality, ride the ANN machinery instead (ext_ann_topk_
    // batch's bucket join) — this row pins the EXACT semantics.
    QueryDef(
      "emb_knn_label_acc",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
        |           FROM embeddings WHERE vec_id < 500),
        |c AS (SELECT vec_id AS cid, embedding AS ce, label AS cl FROM embeddings),
        |p AS (
        |  SELECT qid, cid, cl,
        |         list_reduce(list_transform(range(1, len(qe) + 1),
        |             i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)), (a, b) -> a + b)
        |           / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |            * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cos_sim
        |  FROM q, c WHERE qid <> cid),
        |top AS (
        |  SELECT qid, cl FROM (
        |    SELECT qid, cl,
        |           ROW_NUMBER() OVER (PARTITION BY qid
        |                              ORDER BY cos_sim DESC, cid) AS rn
        |    FROM p) WHERE rn <= 10),
        |vote AS (SELECT qid, cl, COUNT(*) AS nv FROM top GROUP BY qid, cl),
        |pred AS (
        |  SELECT qid, cl AS plabel FROM (
        |    SELECT qid, cl,
        |           ROW_NUMBER() OVER (PARTITION BY qid
        |                              ORDER BY nv DESC, cl) AS rn
        |    FROM vote) WHERE rn = 1)
        |SELECT CAST(q.ql AS INT) AS label,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN pred.plabel = q.ql THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM q JOIN pred ON pred.qid = q.qid
        |GROUP BY q.ql ORDER BY label""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 500)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("ql"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").as("cl"))
      val top = broadcast(q.drop("ql")).join(c, col("qid") =!= col("cid"))
        .withColumn("cos_sim", cosineSim(col("qe"), col("ce")))
        .groupBy("qid")
        .agg(topKByScore(col("cos_sim"), col("cid"), 10).as("top"))
        .select(col("qid"), explode(col("top.id")).as("cid"))
        .join(c.select("cid", "cl"), "cid")
      val vote = top.groupBy("qid", "cl").agg(count(lit(1)).as("nv"))
      val wv = Window.partitionBy("qid").orderBy(col("nv").desc, col("cl"))
      val pred = vote.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1).select(col("qid"), col("cl").as("plabel"))
      q.select("qid", "ql").join(pred, "qid")
        .groupBy(col("ql").cast("int").as("label"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("plabel") === col("ql"), 1L).otherwise(0L))
            .cast("long").as("n_correct"))
        .orderBy("label")
    },

    // Johnson–Lindenstrauss random projection (r12): 64-dim embeddings
    // to k=8 dims with a Rademacher ±1 matrix derived from md5 parity —
    // the TRAINING-FREE dimensionality reduction (Achlioptas 2003
    // database-friendly JL), the cheap precursor to PCA when a pass
    // over the data to fit a basis is too expensive. The sign matrix is
    // 512 rows, broadcast; the projection is one explode + broadcast
    // join + map-side-combinable aggregate per (vec, out-dim). Sums
    // ride 1e-12-floor-quantized decimals (exact, order-free — the
    // pageRank discipline), so the row is hash-exact cross-engine; the
    // vi·sgn·1e12 product is exact (24-bit float mantissa × 2^40
    // stays under 2^53), making the quantization itself bit-defined.
    QueryDef(
      "emb_jl_project",
      """WITH mat AS (
        |  SELECT i.i, j.j,
        |         CASE WHEN CAST(concat('0x', substr(md5('jl:' || i.i || ':' || j.j), 1, 15)) AS BIGINT)
        |                   % 2 = 0
        |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sgn
        |  FROM generate_series(0, 63) AS i(i), generate_series(0, 7) AS j(j)),
        |ex AS (
        |  SELECT vec_id, idx - 1 AS i, embedding[idx] AS vi
        |  FROM (SELECT vec_id, embedding,
        |               unnest(range(1, len(embedding) + 1)) AS idx
        |        FROM embeddings))
        |SELECT e.vec_id, m.j,
        |       CAST(SUM(CAST(FLOOR(CAST(e.vi AS DOUBLE) * m.sgn * 1e12)
        |                     AS DECIMAL(38,0))) AS DOUBLE)
        |         / 1e12 / sqrt(8) AS p
        |FROM ex e JOIN mat m ON m.i = e.i
        |GROUP BY e.vec_id, m.j""".stripMargin) { (s, d) =>
      val mat = s.range(64).select(col("id").as("i"))
        .crossJoin(s.range(8).select(col("id").as("j")))
        .withColumn("sgn",
          when(conv(substring(md5(concat(lit("jl:"), col("i").cast("string"),
            lit(":"), col("j").cast("string")).cast("binary")), 1, 15), 16, 10)
            .cast("bigint") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)))
      val ex = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "vi")))
      ex.join(broadcast(mat), "i")
        .groupBy("vec_id", "j")
        .agg((sum(floor(col("vi").cast("double") * col("sgn") * lit(1e12))
          .cast(DecimalType(38, 0))).cast("double")
          / lit(1e12) / sqrt(lit(8.0))).as("p"))
        .select(col("vec_id"), col("j"), col("p"))
    },

    // Grid-bucketed DBSCAN (r14) on the (e[0], e[1]) feature subspace
    // — the density clustering member of the family (Ester et al.
    // KDD'96) beside centroid (kmeans) and connectivity (CC) methods.
    // eps-grid cells prune the neighbor join to a 9-cell stencil
    // (cell width = eps guarantees every eps-ball fits the stencil),
    // so candidate pairs are Σ (9 · cell occupancy²). With the
    // fixture's FIXED coordinate space, occupancy at constant eps
    // grows with n and the join mass goes quadratic (measured: 8.8k
    // pairs at 500 pts → 90k at 2000) — so eps AUTO-SCALES as
    // eps₀·sqrt(n₀/n), the IVF √n-cells discipline: constant expected
    // occupancy ⇒ linear candidate mass at any n. The formula is the
    // identical IEEE expression on both engines (divide, correctly-
    // rounded SQRT, multiply — the one transcendental-free radical the
    // oracle surface allows). Spark EXPANDS the stencil (explode ×9 →
    // pure equi-join, no BNL); DuckDB expresses the same neighborhood
    // as a BETWEEN join — identical pair set. |N(p)| counts p itself.
    // Core-core edges cluster via the shared large-star/small-star CC
    // (oracle: recursive-CTE min fixpoint); border points attach to
    // the MIN core cluster in range (a deterministic refinement of
    // DBSCAN's order-dependent border assignment); the rest is noise
    // (cluster = -1). Algorithm truth at fixed eps is pinned by
    // DbscanSpec against [[dbscanGrid]] directly.
    QueryDef(
      "emb_dbscan_grid",
      """WITH RECURSIVE par AS (
        |  SELECT 0.02 * SQRT(500.0 / CAST(COUNT(*) AS DOUBLE)) AS eps
        |  FROM embeddings),
        |p AS (
        |  SELECT vec_id,
        |         CAST(embedding[1] AS DOUBLE) AS x,
        |         CAST(embedding[2] AS DOUBLE) AS y
        |  FROM embeddings),
        |g AS (SELECT vec_id, x, y,
        |             CAST(FLOOR(x / par.eps) AS BIGINT) AS cx,
        |             CAST(FLOOR(y / par.eps) AS BIGINT) AS cy
        |      FROM p CROSS JOIN par),
        |e AS (
        |  SELECT a.vec_id AS u, b.vec_id AS v
        |  FROM g a JOIN g b
        |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
        |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        |  CROSS JOIN par
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |        <= par.eps * par.eps),
        |core AS (
        |  SELECT u AS vec_id FROM e GROUP BY u HAVING COUNT(*) >= 4),
        |ce AS (
        |  SELECT e.u AS a, e.v AS b FROM e
        |  JOIN core cu ON cu.vec_id = e.u
        |  JOIN core cv ON cv.vec_id = e.v),
        |reach AS (
        |  SELECT vec_id AS node, vec_id AS lab FROM core
        |  UNION
        |  SELECT c.b AS node, r.lab FROM reach r JOIN ce c ON c.a = r.node),
        |cc AS (SELECT node, MIN(lab) AS comp FROM reach GROUP BY node),
        |border AS (
        |  SELECT e.u AS vec_id, MIN(cc.comp) AS comp
        |  FROM e JOIN cc ON cc.node = e.v
        |  WHERE e.u NOT IN (SELECT vec_id FROM core)
        |  GROUP BY e.u)
        |SELECT p.vec_id,
        |       CAST(COALESCE(cc.comp, border.comp, -1) AS BIGINT) AS cluster,
        |       CASE WHEN cc.node IS NOT NULL THEN 'core'
        |            WHEN border.vec_id IS NOT NULL THEN 'border'
        |            ELSE 'noise' END AS role
        |FROM p LEFT JOIN cc ON cc.node = p.vec_id
        |       LEFT JOIN border ON border.vec_id = p.vec_id
        |ORDER BY p.vec_id""".stripMargin) { (s, d) =>
      val p = Tables.embeddings(s, d).select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
        .cutLineage()
      // auto-eps: same IEEE op order as the oracle's par CTE
      val eps = 0.02 * math.sqrt(500.0 / p.count().toDouble)
      dbscanGrid(p, eps, minPts = 4)
    },

    // Symmetric int8 scalar quantization (r14, part 2) — the SQ8 codec
    // every large vector store applies before ANN (4× memory cut vs
    // float32; FAISS ScalarQuantizer QT_8bit shape): per-DIMENSION
    // scale s_j = max|x_j|/127 from one corpus pass, code = half-up
    // grid clamp to [-127,127], then the per-vector reconstruction
    // error report that decides whether SQ8 recall is acceptable.
    // Cross-engine: scale/code/error are pure IEEE (max of exact
    // floats, correctly-rounded divides, FLOOR grid — no libm), error
    // sums ride the 1e-12-floor decimal pattern. Plan: one 64-row
    // per-dim aggregate broadcast back onto the explode — two scans,
    // no shuffle wider than (dim) and (vec_id); linear at any corpus
    // size, codes never materialize driver-side.
    QueryDef(
      "emb_quantize_int8",
      """WITH ex AS (
        |  SELECT vec_id, t.i AS j, CAST(embedding[t.i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |sc AS (SELECT j, MAX(ABS(x)) / 127.0 AS s FROM ex GROUP BY j),
        |q AS (
        |  SELECT vec_id, x, s,
        |         LEAST(127, GREATEST(-127,
        |           CAST(FLOOR(x / s + 0.5) AS INTEGER))) AS code
        |  FROM ex JOIN sc USING (j)),
        |e AS (SELECT vec_id, code, x - CAST(code AS DOUBLE) * s AS err FROM q)
        |SELECT vec_id,
        |       CAST(SUM(CASE WHEN ABS(code) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
        |       CAST(SUM(CAST(FLOOR(err * err * 1e12) AS BIGINT)) AS BIGINT) AS qerr12u
        |FROM e GROUP BY vec_id""".stripMargin) { (s, d) =>
      val ex = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j0", "xf")))
        .select(col("vec_id"), (col("j0") + 1).as("j"),
          col("xf").cast("double").as("x"))
      val sc = ex.groupBy("j").agg((max(abs(col("x"))) / lit(127.0)).as("s"))
      val q = ex.join(broadcast(sc), "j")
        .withColumn("code", least(lit(127), greatest(lit(-127),
          floor(col("x") / col("s") + lit(0.5)).cast("int"))))
        .withColumn("err", col("x") - col("code").cast("double") * col("s"))
      q.groupBy("vec_id").agg(
        sum(when(abs(col("code")) === 127, 1L).otherwise(0L))
          .cast("long").as("n_sat"),
        sum(floor(col("err") * col("err") * lit(1e12))
          .cast(DecimalType(38, 0))).cast("long").as("qerr12u"))
    },

    // Centroid-based silhouette (r14, part 2) over the LABEL clustering
    // — the cluster-quality diagnostic (simplified silhouette, a.k.a.
    // the medoid-free variant: a = dist to own centroid, b = nearest
    // other centroid, s = (b-a)/max(a,b)) run before trusting a
    // clustering for SemDeDup-style pruning. Distances live on the
    // 1e-12-floor integer grid end-to-end (per-term quantized squared
    // deviations — order-free, map-side combinable), so a/b compare and
    // the s ratio are exact-integer-derived IEEE on both engines.
    // Plan: per-(label,dim) centroid aggregate (k·64 rows, broadcast)
    // -> explode join -> per-(vec,centroid) aggregate (k rows per vec)
    // -> per-vec pivot -> per-label mean. Linear in corpus size,
    // constant in k; no row ever carries more than one dimension.
    QueryDef(
      "emb_silhouette",
      """WITH ex AS (
        |  SELECT vec_id, CAST(label AS INTEGER) AS label, t.i AS j,
        |         CAST(embedding[t.i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |cent AS (
        |  SELECT label AS clabel, j,
        |         CAST(CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |           / 1e12 / COUNT(*) AS cm
        |  FROM ex GROUP BY label, j),
        |dist AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |         CAST(SUM(CAST(FLOOR((e.x - c.cm) * (e.x - c.cm) * 1e12) AS BIGINT)) AS BIGINT) AS d12
        |  FROM ex e JOIN cent c ON c.j = e.j
        |  GROUP BY e.vec_id, e.label, c.clabel),
        |ab AS (
        |  SELECT vec_id, label,
        |         MAX(CASE WHEN clabel = label THEN d12 END) AS a,
        |         MIN(CASE WHEN clabel <> label THEN d12 END) AS b
        |  FROM dist GROUP BY vec_id, label),
        |sil AS (
        |  SELECT vec_id, label,
        |         CASE WHEN GREATEST(a, b) = 0 THEN CAST(0 AS DOUBLE)
        |              ELSE CAST(b - a AS DOUBLE) / CAST(GREATEST(a, b) AS DOUBLE)
        |         END AS s
        |  FROM ab)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(FLOOR(
        |         CAST(CAST(SUM(CAST(FLOOR(s * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |           / 1e12 / COUNT(*) * 1e6 + 0.5) AS BIGINT) AS sil6u
        |FROM sil GROUP BY label""".stripMargin) { (s, d) =>
      val ex = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("int").as("label"),
          posexplode(col("embedding")).as(Seq("j0", "xf")))
        .select(col("vec_id"), col("label"), (col("j0") + 1).as("j"),
          col("xf").cast("double").as("x"))
      val cent = ex.groupBy(col("label").as("clabel"), col("j"))
        .agg((sum(floor(col("x") * lit(1e12)).cast(DecimalType(38, 0)))
          .cast("long").cast("double") / lit(1e12) / count(lit(1))).as("cm"))
      val dist = ex.join(broadcast(cent), "j")
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(floor((col("x") - col("cm")) * (col("x") - col("cm"))
          * lit(1e12)).cast(DecimalType(38, 0))).cast("long").as("d12"))
      val ab = dist.groupBy("vec_id", "label")
        .agg(max(when(col("clabel") === col("label"), col("d12"))).as("a"),
          min(when(col("clabel") =!= col("label"), col("d12"))).as("b"))
      val sil = ab.select(col("label"),
        when(greatest(col("a"), col("b")) === 0, lit(0.0))
          .otherwise((col("b") - col("a")).cast("double")
            / greatest(col("a"), col("b")).cast("double")).as("s"))
      sil.groupBy("label")
        .agg(count(lit(1)).cast("long").as("n"),
          floor(sum(floor(col("s") * lit(1e12)).cast(DecimalType(38, 0)))
            .cast("long").cast("double") / lit(1e12) / count(lit(1))
            * lit(1e6) + lit(0.5)).cast("long").as("sil6u"))
    }
  )

  /** Grid-bucketed DBSCAN core (see the emb_dbscan_grid registry row
    * for the full contract); exposed at fixed (eps, minPts) so
    * DbscanSpec can pin planted density truth independent of the
    * registry row's density-derived auto-eps. `p` must carry
    * (vec_id, x, y) with x/y already DOUBLE. */
  private[queries] def dbscanGrid(p: org.apache.spark.sql.DataFrame,
      eps: Double, minPts: Int): org.apache.spark.sql.DataFrame = {
      val g = p
        .withColumn("cx", floor(col("x") / lit(eps)).cast("long"))
        .withColumn("cy", floor(col("y") / lit(eps)).cast("long"))
        .cutLineage()
      val offsets = array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
        struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
      val aSide = g
        .select(col("vec_id").as("u"), col("x").as("ax"), col("y").as("ay"),
          col("cx"), col("cy"), explode(offsets).as("o"))
        .select(col("u"), col("ax"), col("ay"),
          (col("cx") + col("o.dx")).as("kx"), (col("cy") + col("o.dy")).as("ky"))
      val bSide = g.select(col("vec_id").as("v"), col("x").as("bx"),
        col("y").as("by"), col("cx").as("vcx"), col("cy").as("vcy"))
      val e = aSide.join(bSide,
          col("kx") === col("vcx") && col("ky") === col("vcy")
            && ((col("ax") - col("bx")) * (col("ax") - col("bx"))
              + (col("ay") - col("by")) * (col("ay") - col("by")))
              <= lit(eps * eps))
        .select(col("u"), col("v")).cutLineage()
      val core = e.groupBy("u").agg(count(lit(1)).as("n"))
        .filter(col("n") >= minPts).select(col("u").as("vec_id"))
      val ce = e
        .join(core.select(col("vec_id").as("u")), "u")
        .join(core.select(col("vec_id").as("v")), "v")
        .select(col("u").as("doc_a"), col("v").as("doc_b"))
      val cc = graft.ext.Dedup.connectedComponents(ce)
      val borderComp = e
        .join(core.select(col("vec_id").as("v")), "v")
        .join(core.select(col("vec_id").as("u")), Seq("u"), "left_anti")
        .join(cc.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("vec_id"))
        .agg(min(col("component")).as("border_comp"))
      p.select("vec_id")
        .join(cc.withColumnRenamed("node", "vec_id")
          .withColumnRenamed("component", "core_comp"), Seq("vec_id"), "left")
        .join(borderComp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("core_comp"), col("border_comp"), lit(-1L))
            .cast("long").as("cluster"),
          when(col("core_comp").isNotNull, "core")
            .when(col("border_comp").isNotNull, "border")
            .otherwise("noise").as("role"))
        .orderBy("vec_id")
  }
}
