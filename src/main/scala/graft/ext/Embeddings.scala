package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ext.Checkpoints.CutOps
import graft.functions.GraftFunctions.{squaredL2, topKByScore}

/** Distributed linear-algebra primitives over an embedding corpus:
  * Lloyd's k-means and covariance/PCA. Part of the declared extension
  * surface (SURVEY §2.3) — the reference has no vector operations at all
  * (samsa delegates everything to a user callback,
  * /root/reference/samsa/kafka/storage.py:237).
  *
  * Scale design (the point of doing these on Spark at all):
  *   - k-means assign is a broadcast nested-loop over the k centroids —
  *     a map-only stage; the argmin is `min_by`, which partial-aggregates
  *     map-side (each input row's k candidate rows are adjacent, so the
  *     combiner collapses them to one row before any shuffle). No Window,
  *     no skew hazard: a mega-cluster costs its partition count.
  *   - the k-means update is one (cell, dim) aggregation — k*d keys.
  *   - covariance is ONE `treeAggregate` pass carrying d(d+1)/2 + d + 1
  *     doubles per partition: no row ever shuffles, the driver receives
  *     O(d^2) regardless of corpus size. Eigendecomposition is a driver
  *     O(d^3) Jacobi — d is model-embedding-sized (64..4096), not data-
  *     sized, so this is the correct split between cluster and driver.
  */
object Embeddings {

  /** Sentinels for [[ivfPqTopK]]'s `refine` parameter. BEHAVIOR CHANGE
    * (r17): `0` used to mean "disable the exact re-rank"; it now means
    * "auto-derive the shortlist depth" ([[autoRefine]]'s constant-
    * fraction law). Callers wanting pure-ADC distances must pass
    * [[RefineOff]] (any negative). Positive values pin the depth. */
  val RefineAuto: Int = 0
  val RefineOff: Int = -1

  /** (vec frame with v: array<double>) from the raw embeddings table. */
  private def withV(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  private def sqDist(v: Column, cv: Column): Column =
    aggregate(zip_with(v, cv, (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, b) => a + b)

  /** Assign every vector to its nearest centroid (squared L2, tie-break
    * lowest cell id). `cents` is (cell: int, cv: array<double>), k rows —
    * always broadcast. Returns (vec_id, cell, d, v).
    *
    * SCALE NOTE (r17): the crossJoin+min_by form plans a SortAggregate
    * (min_by's struct buffer carries the vector array, so hash agg is
    * unavailable) sorting n·k fat rows — keep it to the small k it is
    * used with (k<=8 here; the declarative form is what the exact-fold
    * oracle rows pin). Cell-count-scale assignment goes through the
    * broadcast-argmin narrow map (coarseAssign / Similarity.assignCells).
    *
    * `codegen = true` uses the native SquaredL2 expression (one fused
    * loop, whole-stage codegen); `false` keeps the zip_with/aggregate HOF
    * form. Both accumulate (x_i-c_i)^2 in index order, so they are
    * bit-identical with each other and with DuckDB's list_reduce fold.
    */
  def lloydAssign(e: DataFrame, cents: DataFrame,
      codegen: Boolean = true): DataFrame = {
    val d = if (codegen) squaredL2(col("v"), col("cv")) else sqDist(col("v"), col("cv"))
    e.crossJoin(broadcast(cents))
      .withColumn("d", d)
      .groupBy("vec_id")
      .agg(min_by(struct(col("cell"), col("d"), col("v")),
        struct(col("d"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"),
        col("m.d").as("d"), col("m.v").as("v"))
  }

  /** Recompute centroids from an assignment. `exact = true` folds a
    * SORTED per-(cell,dim) value list so the mean is bit-identical across
    * engines and partition counts — the oracle discipline for fixture-
    * sized clusters (same note as emb_centroid_per_label). `exact =
    * false` is the 100 TB path: plain sum/count, map-side combinable,
    * never materializes a cluster in one task. */
  def lloydUpdate(assigned: DataFrame, exact: Boolean): DataFrame = {
    val perDim = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
    val cm =
      if (exact)
        perDim.agg(sort_array(collect_list(col("x"))).as("xs"),
            count(lit(1)).as("n"))
          .select(col("cell"), col("dim"),
            (aggregate(col("xs"), lit(0.0), (a, b) => a + b) / col("n")).as("cm"))
      else
        // 1e-12 floor-quantized exact-decimal mean — still map-side
        // combinable and never materializes a cluster in one task, but
        // (unlike plain sum) independent of partial-agg arrival order,
        // so the ivfPqTopK coarse centroids are bit-identical
        // run-to-run (what the ext_ivfpq_topk lazy oracle inlines).
        perDim.agg((sum(floor(col("x") * lit(1.0e12))
            .cast(DecimalType(38, 0))).cast("double")
            / lit(1.0e12) / count(lit(1))).as("cm"))
          .select(col("cell"), col("dim"), col("cm"))
    cm.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cm")))),
        p => p.getField("cm")).as("cv"))
  }

  /** Lloyd's k-means: deterministic seeds (the k lowest vec_ids), `iters`
    * assign+update sweeps, then a final assignment. Returns
    * (vec_id, cell, d) — d is the squared L2 to the final centroid.
    *
    * Each sweep = one broadcast map stage + one k*d-key aggregation; the
    * k-row centroid frame is the only thing that crosses stages. */
  def lloyd(emb: DataFrame, k: Int, iters: Int,
      exact: Boolean = false, codegen: Boolean = true): DataFrame = {
    require(k > 0 && iters >= 1, s"need k>0, iters>=1; got k=$k iters=$iters")
    val e = withV(emb)
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))
    var it = 0
    while (it < iters) {
      cents = lloydUpdate(lloydAssign(e, cents, codegen), exact)
      it += 1
    }
    lloydAssign(e, cents, codegen).select(col("vec_id"), col("cell"), col("d"))
  }

  /** Product quantization (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): split each vector into `m`
    * contiguous subspaces, k-means each subspace independently (ksub
    * centroids), encode every vector as m small codes. The compression
    * that makes billion-vector ANN feasible — with m=8, ksub=16 a 64-dim
    * float vector (256 B) becomes 8 nibbles.
    *
    * Scale shape: training is treeAggregate sweeps over the corpus with
    * the dense codebook broadcast (pqTrainArrays — exact quantized-long
    * sums); encoding is ONE narrow map per row against the same
    * broadcast (r17 — see pqEncodeWithV for why the old explode+join+
    * min_by chain was a SortAggregate hazard). Returns (vec_id, codes
    * array<int> ordered by subspace, recon_sq_err = total squared
    * quantization error).
    */
  def pqEncode(emb: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 2): DataFrame = {
    val (codebook, subLen) = pqTrain(emb, m, ksub, iters)
    pqEncodeWith(emb, codebook, m, subLen)
  }

  /** Train the m-subspace PQ codebooks. Returns ((s, cell, cv) frame,
    * subspace length). Deterministic seeds: the ksub lowest vec_ids seed
    * every subspace. */
  def pqTrain(emb: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 2): (DataFrame, Int) = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    pqTrainV(withV(emb), dim, m, ksub, iters)
  }

  /** [[pqTrain]] over a pre-projected (vec_id, v: array<double>) frame —
    * the entry point that lets IVF-PQ train its codebook on per-cell
    * RESIDUALS rather than raw vectors. Wraps [[pqTrainArrays]] into the
    * (s, cell, cv) frame shape [[pqEncodeWith]] consumes. */
  private def pqTrainV(e: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int): (DataFrame, Int) = {
    val (rows, sub) = pqTrainArrays(e, dim, m, ksub, iters)
    (e.sparkSession.createDataFrame(
      rows.toSeq.map { case (s, c, w) => (s, c, w.toSeq) })
      .toDF("s", "cell", "cv"), sub)
  }

  /** The PQ trainer proper (r11 rewrite): each sweep is ONE
    * treeAggregate carrying m·ksub·(subLen+1) longs — assign every
    * subvector to its nearest codeword map-side and accumulate
    * 1e-12-floor-quantized component sums + counts, exactly the numbers
    * the old posexplode → (s,cell,dimi) decimal aggregate produced
    * through three shuffles per sweep. Long addition is exact and
    * order-free, distances accumulate in index order, ties break to the
    * lowest cell, and the driver-side mean divides in the same
    * (sum→double)/1e12/n order — so the trained codebook is
    * BIT-IDENTICAL to the frame-based trainer's (the determinism the
    * emb_pq_encode / ext_ivfpq_topk lazy oracles inline). Cells that
    * lose all members drop out of the codebook, as before.
    *
    * Scale shape: the per-partition accumulator is m·ksub·(subLen+1)
    * longs (m=8, ksub=16, subLen=8 → 1 KB) regardless of corpus size —
    * strictly better than shuffling corpus·m exploded rows per sweep. */
  private def pqTrainArrays(e: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int): (Array[(Int, Int, Array[Double])], Int) = {
    require(m > 0 && ksub > 0 && iters >= 1)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val sc = e.sparkSession.sparkContext
    // deterministic seeds: the ksub lowest vec_ids seed every subspace
    // (cell id = vec_id — the sv.filter(vec_id < ksub) seeding)
    val seedRows = e.filter(col("vec_id") < ksub)
      .select(col("vec_id").cast("int"), col("v")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val a = Array.ofDim[Array[Double]](ksub)
      seedRows.foreach { case (cell, v) =>
        a(cell) = java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub) }
      a
    }
    val rdd = e.select(col("v")).rdd.map(_.getSeq[Double](0).toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per (s, cell): each component's quantized sum is carried as TWO
    // longs (hi = floorDiv(q, 2^31), lo = floorMod(q, 2^31)) plus one
    // count. A single long of floor(x*1e12) wraps silently once a
    // cell's membership passes ~9e6 |x|~1 vectors (ADVICE r11) — real
    // at 1e9-vector corpora. The split keeps the sum EXACT (both
    // halves are exact integer sums, recombined via BigInt on the
    // driver) while the lo half saturates only at ~4e9 members/cell
    // and the hi half at ~2e16·|x| — and addExact in seq+comb makes
    // even that a loud ArithmeticException, never a wrong codebook.
    val width = 2 * sub + 1
    var it = 0
    while (it < iters) {
      val bc = sc.broadcast(cb)
      val agg = rdd.treeAggregate(new Array[Long](m * ksub * width))(
        seqOp = { (acc, v) =>
          val cbv = bc.value
          var s = 0
          while (s < m) {
            var best = -1; var bd = Double.MaxValue
            var c = 0
            while (c < ksub) {
              val w = cbv(s)(c)
              if (w != null) {
                var dd = 0.0; var i = 0
                while (i < sub) {
                  val t = v(s * sub + i) - w(i); dd += t * t; i += 1
                }
                if (dd < bd) { bd = dd; best = c }
              }
              c += 1
            }
            if (best >= 0) {
              val off = (s * ksub + best) * width
              var i = 0
              while (i < sub) {
                val q = math.floor(v(s * sub + i) * 1e12).toLong
                acc(off + 2 * i) =
                  Math.addExact(acc(off + 2 * i), Math.floorDiv(q, 1L << 31))
                acc(off + 2 * i + 1) =
                  Math.addExact(acc(off + 2 * i + 1), Math.floorMod(q, 1L << 31))
                i += 1
              }
              acc(off + 2 * sub) += 1L
            }
            s += 1
          }
          acc
        },
        combOp = { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
          a
        })
      bc.unpersist(blocking = false)
      val next: Array[Array[Array[Double]]] =
        Array.tabulate(m)(_ => Array.ofDim[Array[Double]](ksub))
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ksub) {
          val off = (s * ksub + c) * width
          val n = agg(off + 2 * sub)
          if (n > 0)
            next(s)(c) = Array.tabulate(sub) { i =>
              ((BigInt(agg(off + 2 * i)) << 31) + agg(off + 2 * i + 1))
                .toDouble / 1e12 / n
            }
          c += 1
        }
        s += 1
      }
      cb = next
      it += 1
    }
    rdd.unpersist(blocking = false)
    val out = for {
      s <- (0 until m).toArray
      c <- 0 until ksub
      if cb(s)(c) != null
    } yield (s, c, cb(s)(c))
    (out, sub)
  }

  /** Encode every vector against a trained codebook: (vec_id, codes
    * ordered by subspace, recon_sq_err). */
  def pqEncodeWith(emb: DataFrame, codebook: DataFrame, m: Int,
      subLen: Int): DataFrame =
    pqEncodeWithV(withV(emb), codebook, m, subLen)

  /** [[pqEncodeWith]] over a pre-projected (vec_id, v) frame.
    *
    * ONE narrow map over the corpus with the dense codebook broadcast
    * (r17 — replaces the subVectors-explode → broadcast-join → min_by →
    * two-collect_list chain). The old shape put n·m·ksub rows CARRYING
    * THE SUBVECTOR ARRAY through a SortAggregate (min_by's struct
    * buffer holds the array, so hash agg is unavailable — the same
    * plan-shape defect that killed the IVF-PQ coarse sweep at the
    * 2M-vector gate: ~256M fat rows sorted there). Semantics are
    * bit-identical: per subspace the argmin scans codes in ascending
    * order with strict < (== min_by's (dd, cell) tie-break to the
    * lowest cell), distances accumulate (x_i-c_i)² in index order
    * (== squared_l2), and recon_sq_err folds the m per-subspace
    * minima in s order (== the old sorted-collect_list fold and
    * DuckDB's list_reduce(list(dd ORDER BY s)) — what lets the
    * emb_pq_encode lazy oracle hash-match). */
  private def pqEncodeWithV(e: DataFrame, codebook: DataFrame, m: Int,
      subLen: Int): DataFrame = {
    val spark = e.sparkSession
    val cbRows = codebook
      .select(col("s").cast("int"), col("cell").cast("int"), col("cv"))
      .collect()
    require(cbRows.nonEmpty,
      "pqEncodeWith: empty codebook (0 rows) — train one with pqTrain " +
        "before encoding")
    val ksub = cbRows.iterator.map(_.getInt(1)).max + 1
    val cbDense: Array[Array[Array[Double]]] =
      Array.tabulate(m)(_ => Array.ofDim[Array[Double]](ksub))
    cbRows.foreach(r =>
      cbDense(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val bc = spark.sparkContext.broadcast(cbDense)
    val encodeU = udf { (v0: Seq[Double]) =>
      // null embedding → null codes (the old posexplode chain dropped
      // the row silently; a null row out preserves vec_id visibility
      // without NPE-ing the task — r18 ADVICE fix)
      if (v0 == null) null
      else {
      val cbv = bc.value
      val va = v0.toArray // one unboxing pass (UDF Seq apply is linear)
      val codes = new Array[Int](m)
      var err = 0.0
      var s = 0
      while (s < m) {
        val row = cbv(s)
        var best = -1; var bd = Double.MaxValue
        var c = 0
        while (c < row.length) {
          val w = row(c)
          if (w != null) {
            var dd = 0.0; var i = 0
            while (i < subLen) {
              val t = va(s * subLen + i) - w(i); dd += t * t; i += 1
            }
            if (dd < bd) { bd = dd; best = c }
          }
          c += 1
        }
        codes(s) = best
        err += bd // s-ordered fold of the per-subspace minima
        s += 1
      }
      (codes, err)
      }
    }
    e.select(col("vec_id"), encodeU(col("v")).as("_e"))
      .select(col("vec_id"), col("_e._1").as("codes"),
        col("_e._2").as("recon_sq_err"))
  }


  /** IVF-PQ approximate nearest neighbor (the billion-scale ANN index
    * layout, Jégou et al. 2011): a coarse k-means quantizer routes each
    * query to its nProbe nearest cells, and within those cells distances
    * are computed over the PQ CODES via an asymmetric-distance lookup
    * table (ADC) — O(m) adds per candidate instead of O(d) multiplies,
    * with the corpus held as m small codes per vector (16-32x memory
    * reduction; the property that lets the index live in RAM at 10^9
    * vectors). This is the RESIDUAL variant (IVFADC proper): codes
    * quantize v - centroid(cell), so the codebook spends its bits on the
    * within-cell geometry instead of re-describing the coarse centroids —
    * the form every production IVF-PQ index uses. The price is that the
    * ADC lookup table becomes per-(query, probed cell) instead of
    * per-query: lut[s*ksub+c] = ||(q - centroid)_sub(s) - cb(s)(c)||^2.
    *
    * A final REFINE stage (the FAISS IndexRefineFlat pattern) re-ranks
    * the ADC top (refine*k) shortlist with exact distances over the raw
    * vectors: the shortlist (nQueries * refine * k ids) broadcasts, so
    * the corpus contributes one more map-side scan and no shuffle of raw
    * vectors. refine = 0 (the default) derives the depth from the
    * corpus via [[autoRefine]] — the r17 constant-shortlist-FRACTION
    * law (≈1/80 of the n·np/nc expected candidates, floor 16; at 2M
    * vectors the old fixed 16 measured recall@10 0.448, the auto ~125
    * measures 0.996). refine < 0 ([[RefineOff]]) disables the re-rank
    * (pure ADC distances out); positive pins it manually. NOTE the r17
    * behavior change: 0 previously meant "off" — see [[RefineAuto]]/
    * [[RefineOff]].
    *
    * Scale shape: centroids and codebook are driver/broadcast-bounded
    * (nCells*d + m*ksub*subLen doubles); the corpus is touched by one
    * codes scan filtered to probed cells via a broadcast hash join plus
    * one refine scan; the per-(query,cell) LUT (m*ksub doubles) rides the
    * probe join row; both top-k passes are the bounded-heap topk_by_score
    * aggregate. No shuffle carries raw vectors. Planted-cluster
    * recall@10 >= 0.9 vs brute force is REQUIREd in ClusterSpec.
    *
    * Recall floor on small corpora: with the auto knobs, recall@10
    * against brute force measured 0.84 on 1 000 vectors (ScaleStress's
    * factor-2 sf0.001 embeddings, 50 queries); the ≥ 0.9 contract holds
    * from 10× sf0.1 up (20 000 vectors), where `ScaleStressSpec` gates
    * it. For small corpora, `Similarity.annTopKRouted`
    * (BRP below `Similarity.brpRouteMaxN` rows, 0.99 on that fixture) is
    * the better call.
    */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, nCells: Int = 0, nProbe: Int = 0,
      refine: Int = RefineAuto): DataFrame = {
    val spark = emb.sparkSession
    val (model, resid) = ivfPqFitWithResid(emb, m, ksub, nCells, nProbe)
    val refineDepth =
      if (refine == RefineAuto) autoRefine(model.n, model.nc, model.np, k)
      else refine
    val np = model.np
    val subLen = model.subLen
    val e = withV(emb)
    val coarse = model.coarse
    val sc = spark.sparkContext
    val pIdx =
      if (coarse.length >= Similarity.twoLevelCellThreshold)
        Some(Similarity.buildTwoLevel(coarse.map(_._2)))
      else None
    val bcCells = sc.broadcast((coarse.map(_._1), coarse.map(_._2), pIdx))
    val bcCent = sc.broadcast(coarse.toMap)
    val probeU = udf { (v: Seq[Double]) =>
      val (ids, cs, ix) = bcCells.value
      // unbox ONCE per row: the kernels index the vector nc (or group)
      // times, and a generic Seq[Double] apply boxes on every read
      val va = v.toArray
      ix match {
        case Some(i) => nearestCellsInTwoLevel((ids, cs), i, va, np)
        case None => nearestCellsIn((ids, cs), va, np)
      }
    }

    val cbRows = model.codebook.map { case (s, c, w) => ((s, c), w) }.toMap
    val bcCb = sc.broadcast(cbRows)
    // corpus encode: ONE narrow map over the checkpointed residuals with
    // the dense codebook broadcast (r11 — replaces the
    // subVectors-explode → codebook-join → two-aggregate pqEncode
    // chain, three shuffles, with zero; same argmin: index-order
    // distance sums, ties to the lowest code). pqEncodeWith stays for
    // the emb_pq_encode row, which also needs recon_sq_err.
    val cbDense: Array[Array[Array[Double]]] =
      Array.tabulate(m)(_ => Array.ofDim[Array[Double]](ksub))
    model.codebook.foreach { case (s, c, w) => cbDense(s)(c) = w }
    val bcEnc = sc.broadcast(cbDense)
    val encodeU = udf { (v: Seq[Double]) =>
      val cbv = bcEnc.value
      val va = v.toArray
      Array.tabulate(m) { s =>
        var best = -1; var bd = Double.MaxValue
        var c = 0
        while (c < ksub) {
          val w = cbv(s)(c)
          if (w != null) {
            var dd = 0.0; var i = 0
            while (i < subLen) {
              val t = va(s * subLen + i) - w(i); dd += t * t; i += 1
            }
            if (dd < bd) { bd = dd; best = c }
          }
          c += 1
        }
        best
      }
    }
    val indexed = resid.select(col("vec_id").as("cid"), col("cell"),
      encodeU(col("v")).as("codes"))

    // query side: one row per (query, probed cell) carrying the residual
    // ADC lookup table for THAT cell (m*ksub doubles)
    val lutU = udf { (v: Seq[Double], cell: Int) =>
      val cb = bcCb.value
      val ct = bcCent.value(cell)
      val va = v.toArray // UDF Seq indexed access is linear-cost here
      val lut = Array.fill(m * ksub)(Double.MaxValue)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ksub) {
          cb.get((s, c)).foreach { cw =>
            var acc = 0.0; var i = 0
            while (i < cw.length) {
              val j = s * subLen + i
              val t = (va(j) - ct(j)) - cw(i); acc += t * t; i += 1
            }
            lut(s * ksub + c) = acc
          }
          c += 1
        }
        s += 1
      }
      lut
    }
    val adcU = udf { (codes0: Seq[Int], lut0: Seq[Double]) =>
      val codes = codes0.toArray; val lut = lut0.toArray
      var acc = 0.0; var s = 0
      while (s < codes.length) { acc += lut(s * ksub + codes(s)); s += 1 }
      acc
    }
    val qraw = e.join(broadcast(queries.select(col("vec_id"))), "vec_id")
    val qside = qraw
      .select(col("vec_id").as("qid"), col("v"),
        explode(probeU(col("v"))).as("cell"))
      .select(col("qid"), col("cell"), lutU(col("v"), col("cell")).as("lut"))

    val rTake = if (refineDepth > 0) refineDepth * k else k
    val shortlist = indexed.join(broadcast(qside), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("adist", adcU(col("codes"), col("lut")))
      .groupBy("qid")
      .agg(topKByScore(-col("adist"), col("cid"), rTake).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("cid"), (-col("t.score")).as("adist"))
    if (refineDepth <= 0) shortlist
    else {
      // exact re-rank of the bounded shortlist: raw vectors touched only
      // for shortlist ids, via broadcast joins — one map-side corpus scan
      val qv = qraw.select(col("vec_id").as("qid"), col("v").as("qv"))
      e.select(col("vec_id").as("cid"), col("v").as("cv2"))
        .join(broadcast(shortlist.select("qid", "cid")), "cid")
        .join(broadcast(qv), "qid")
        .withColumn("adist", squaredL2(col("qv"), col("cv2")))
        .groupBy("qid")
        .agg(topKByScore(-col("adist"), col("cid"), k).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("cid"), (-col("t.score")).as("adist"))
    }
  }

  /** The trained IVFADC state, bit-deterministic given the input
    * (quantized-exact Lloyd + PQ means): coarse (cell, centroid) pairs
    * sorted by cell, residual codebook rows (s, cell, cw) sorted by
    * (s, cell). Shared by [[ivfPqTopK]] and the ext_ivfpq_topk lazy
    * oracle, which inlines the whole model as literals. */
  private[graft] final case class IvfPqModel(
      nc: Int, np: Int, dim: Int, subLen: Int,
      coarse: Array[(Int, Array[Double])],
      codebook: Array[(Int, Int, Array[Double])],
      n: Long)

  /** Auto refine depth (r17, the 1000x gate find): ADC ranking noise is
    * roughly scale-free, so recall tracks the SHORTLIST FRACTION of the
    * probed candidates, not its absolute size — refine=16 (shortlist
    * 160 = 1.6% of ~10k candidates) held 0.946 at 200k vectors but the
    * same 160 was 0.16% of the ~100k candidates at 2M and recall fell
    * to 0.448. Finer codes recover less per unit cost (ksub=256 -> 4x
    * code memory, recall only 0.654); deepening the EXACT re-rank is
    * decisive (refine=128 -> 0.996 at +16% wall, same codes). The law
    * holds shortlist ≈ 1/80 of expected candidates (n·np/nc), floored
    * at the measured fixture-scale 16 — it reproduces BOTH measured
    * good points (16 at 200k, ~125 at 2M). Broadcast budget: the refine
    * join ships nQueries·refine·k ids; past ~10^8 ids total, swap the
    * broadcast for a shuffle join on cid (noted in ivfPqTopK). */
  private[graft] def autoRefine(n: Long, nc: Int, np: Int, k: Int): Int = {
    val candidates = n.toDouble * np / math.max(1, nc)
    math.max(16, math.ceil(candidates / (80.0 * math.max(1, k))).toInt)
  }

  private[graft] def ivfPqFit(emb: DataFrame, m: Int = 8, ksub: Int = 16,
      nCells: Int = 0, nProbe: Int = 0): IvfPqModel =
    ivfPqFitWithResid(emb, m, ksub, nCells, nProbe)._1

  /** [[ivfPqFit]] plus the checkpointed per-cell residual frame the fit
    * already had to compute for codebook training — [[ivfPqTopK]] reuses
    * it for corpus encoding instead of re-running the coarse-assign scan
    * (one full nc-distance pass over the corpus saved; the checkpoint
    * also keeps pqTrainV's per-sweep lineage from re-deriving the
    * residuals). Tracked in [[Caches]]; freed by the caller's
    * releaseAll. */
  private[graft] def ivfPqFitWithResid(
      emb: DataFrame, m: Int = 8, ksub: Int = 16,
      nCells: Int = 0, nProbe: Int = 0): (IvfPqModel, DataFrame) = {
    // ONE job for corpus count + dim (was two: count() then a size head)
    val hd = withV(emb).agg(count(lit(1)), first(size(col("v")))).head()
    val n = hd.getLong(0)
    require(n > 0, "ivfPqFit needs a non-empty corpus")
    val dim = hd.getInt(1)
    // 4× the plain-IVF √n cell count (still √n growth): for IVFADC the
    // recall bottleneck is RESIDUAL quantization error, not routing —
    // larger cells mean larger residuals than the m·ksub codebook can
    // resolve (measured at 10× sf0.1: recall@10 0.39 at 51 cells vs
    // 0.95 at 204 — plain exact-distance IVF scores 0.99 at 51). The
    // same reason FAISS sizes IVFPQ nlist several× the IVFFlat
    // rule-of-thumb.
    val nc = math.min(
      if (nCells > 0) nCells else 4 * Similarity.autoNCells(n),
      math.max(1, (n / 2).toInt))
    // 2× the plain-IVF probe count (the refine shortlist buys recall
    // back — see ivfPqTopK scaladoc; measured refine 4 → 16 lifts
    // recall@10 0.65 → 0.944 at unchanged wall).
    val np = math.min(
      if (nProbe > 0) nProbe else 2 * Similarity.autoNProbe(nc), nc)
    val e = withV(emb)
    // Coarse quantizer: one Lloyd sweep from deterministic seeds via the
    // broadcast-argmin NARROW MAP (r17). The old crossJoin+min_by sweep
    // planned as a SortAggregate over n*nc rows each carrying BOTH
    // 64-double vectors (min_by's struct buffer holds an array, so hash
    // agg is off the table) — at the 2M-vector 1000x gate that is 4e9
    // ~1.1 KB rows sorted, a guaranteed spill death ("No space left on
    // device", measured). The argmin UDF reads the broadcast centroid
    // matrix per row instead, so the only shuffle is lloydUpdate's
    // (cell,dim)-key decimal aggregate. Same index-order double
    // distance sums, same lowest-cell tie-break, same 1e-12-quantized
    // mean -> bit-identical centroids to the old path BELOW
    // Similarity.twoLevelCellThreshold (4096 cells, i.e. all fixture
    // and oracle scales); past it coarseAssign routes through the
    // approximate two-level index, so assignments (and centroids) may
    // differ from the exact sweep (>=99% agreement pinned in
    // ClusterSpec's two-level gate).
    val seedArr = e.filter(col("vec_id") < nc)
      .select(col("vec_id").cast("int").as("cell"), col("v")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val coarse = lloydUpdate(
        coarseAssign(e, seedArr).select(col("cell"), col("v")),
        exact = false)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // residual PQ codebook (IVFADC: bits spent within-cell)
    val resid = Caches.track(ivfPqResiduals(e, coarse).cutLineage())
    val (cbRows, subLen) =
      pqTrainArrays(resid.select("vec_id", "v"), dim, m, ksub, iters = 2)
    (IvfPqModel(nc, np, dim, subLen, coarse,
      cbRows.sortBy(t => (t._1, t._2)), n), resid)
  }

  /** (vec_id, cell, v) nearest-cell assignment as a broadcast-argmin
    * narrow map — O(nc·d) flops per row (two-level-routed past the
    * threshold), NO join and no aggregate. The scale-safe assign shape
    * shared by the fit sweep and the residual route; contrast
    * [[lloydAssign]], whose crossJoin+min_by form plans a SortAggregate
    * once the min_by struct carries the vector (fine at the k<=8 it is
    * used with, fatal at IVF cell counts — see ivfPqFitWithResid). */
  private def coarseAssign(e: DataFrame,
      coarse: Array[(Int, Array[Double])]): DataFrame = {
    val spark = e.sparkSession
    val rIdx =
      if (coarse.length >= Similarity.twoLevelCellThreshold)
        Some(Similarity.buildTwoLevel(coarse.map(_._2)))
      else None
    val bcCells = spark.sparkContext.broadcast(
      (coarse.map(_._1), coarse.map(_._2), rIdx))
    val assignU = udf { (v: Seq[Double]) =>
      val (ids, cs, ix) = bcCells.value
      val va = v.toArray // one unboxing pass; kernels loop nc*dim times
      ix match {
        case Some(i) => nearestCellsInTwoLevel((ids, cs), i, va, 1)(0)
        case None => nearestCellsIn((ids, cs), va, 1)(0)
      }
    }
    e.select(col("vec_id"), col("v"), assignU(col("v")).as("cell"))
  }

  /** Corpus route + per-cell residuals over a trained coarse quantizer
    * (broadcast join on the nc-row centroid frame — zip_with stays
    * codegen-friendly; only the argmin assignment is a udf). */
  private def ivfPqResiduals(e: DataFrame,
      coarse: Array[(Int, Array[Double])]): DataFrame = {
    val spark = e.sparkSession
    val centDf = spark.createDataFrame(
      coarse.toSeq.map { case (id, arr) => (id, arr.toSeq) }).toDF("cell", "cv")
    coarseAssign(e, coarse)
      .join(broadcast(centDf), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("v"))
  }

  /** The `howMany` nearest cells by squared L2, ties to the lower cell
    * id (stable sort) — the probe/assign kernel of the IVF-PQ path. */
  private[graft] def nearestCellsIn(
      idsCs: (Array[Int], Array[Array[Double]]),
      v: Array[Double], howMany: Int): Array[Int] = {
    val (ids, cs) = idsCs
    val ds = Array.tabulate(cs.length) { c =>
      var acc = 0.0; var i = 0
      val ct = cs(c)
      while (i < ct.length) { val t = v(i) - ct(i); acc += t * t; i += 1 }
      (acc, ids(c))
    }
    ds.sortBy(p => (p._1, p._2)).take(howMany).map(_._2)
  }

  /** Two-level twin of [[nearestCellsIn]] (the IVF-PQ coarse quantizer
    * shares [[Similarity.buildTwoLevel]]'s router past the cell
    * threshold): gather the members of the nearest wGroups level-1
    * groups — expanding only if they cover fewer than `howMany` — then
    * exact-(dist, cell-id)-sort and keep `howMany`. Member positions
    * index the coarse matrix; ties and ordering match the flat kernel,
    * so at degenerate sizes (g <= wGroups) the result is identical. */
  private[graft] def nearestCellsInTwoLevel(
      idsCs: (Array[Int], Array[Array[Double]]),
      idx: Similarity.TwoLevelIndex, v: Array[Double],
      howMany: Int): Array[Int] = {
    val (ids, cs) = idsCs
    val g = idx.groups.length
    val gd = new Array[Double](g)
    var j = 0
    while (j < g) {
      var d = 0.0; var i = 0; val ct = idx.groups(j)
      while (i < ct.length) { val t = ct(i) - v(i); d += t * t; i += 1 }
      gd(j) = d; j += 1
    }
    val order = Array.range(0, g).sortBy(j => (gd(j), j))
    val picked = new scala.collection.mutable.ArrayBuffer[Int]
    var oj = 0
    while (oj < order.length &&
        (oj < Similarity.twoLevelWGroups || picked.length < howMany)) {
      picked ++= idx.members(order(oj)); oj += 1
    }
    picked.toArray.map { c =>
      var acc = 0.0; var i = 0; val ct = cs(c)
      while (i < ct.length) { val t = v(i) - ct(i); acc += t * t; i += 1 }
      (acc, ids(c))
    }.sortBy(p => (p._1, p._2)).take(howMany).map(_._2)
  }

  /** One-pass mean + covariance: treeAggregate of (n, sum_i, sum_ij upper
    * triangle) — d(d+1)/2 + d + 1 doubles per partition, no shuffle of
    * rows. Returns (n, mu[d], cov[d][d]) with the unbiased (n-1)
    * denominator. */
  def meanAndCovariance(emb: DataFrame): (Long, Array[Double], Array[Array[Double]]) = {
    val vecs = emb.select(col("embedding")).rdd
      .map(r => r.getSeq[Float](0).toArray)
    val d = vecs.first().length
    // The treeAggregate accumulator is 1 + d + d(d+1)/2 doubles — ~16 MB
    // per task at d=2048, quadratic beyond. Past this bound the full
    // dense covariance itself is the wrong object: sketch first
    // (randomized SVD / JL projection to a few hundred dims, both
    // one distributed pass), then factor the reduced matrix.
    require(d <= 2048,
      s"meanAndCovariance builds a dense d x d covariance, refusing d=$d" +
        " (> 2048): the per-task accumulator grows quadratically. Sketch" +
        " to a lower dim first (randomized SVD / JL projection), then" +
        " factor the reduced matrix.")
    val tri = d * (d + 1) / 2
    // acc layout: [0]=n, [1..d]=sums, [d+1 ..]=upper-triangle product sums
    val zero = new Array[Double](1 + d + tri)
    def seqOp(acc: Array[Double], x: Array[Float]): Array[Double] = {
      require(x.length == d, s"dim mismatch: ${x.length} vs $d")
      acc(0) += 1.0
      var i = 0
      var t = 1 + d
      while (i < d) {
        val xi = x(i).toDouble
        acc(1 + i) += xi
        var j = i
        while (j < d) {
          acc(t) += xi * x(j).toDouble
          t += 1; j += 1
        }
        i += 1
      }
      acc
    }
    def combOp(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    val acc = vecs.treeAggregate(zero)(seqOp, combOp)
    val n = acc(0).toLong
    require(n >= 2, s"covariance needs >= 2 vectors, got $n")
    val mu = Array.tabulate(d)(i => acc(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var t = 1 + d
    while (i < d) {
      var j = i
      while (j < d) {
        // E[xy]*n - n*mux*muy, unbiased
        val c = (acc(t) - n * mu(i) * mu(j)) / (n - 1)
        cov(i)(j) = c; cov(j)(i) = c
        t += 1; j += 1
      }
      i += 1
    }
    (n, mu, cov)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix. Returns
    * (eigenvalues desc, eigenvectors as ROWS, matching order). Driver-
    * side O(d^3) — deterministic sweep order, no randomness. */
  def jacobiEigen(m: Array[Array[Double]], maxSweeps: Int = 50,
      tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    // Driver-side O(d^3 * sweeps) with an O(d^2) dense matrix: exact and
    // fast at model-embedding dims (64..512 take well under a second),
    // but a 4096-dim call would burn ~minutes of DRIVER cpu serially —
    // the wrong tool. Refuse loudly instead of degrading: past this
    // bound use a DISTRIBUTED factorization (power iteration / Lanczos
    // for the top-k pairs, or randomized SVD: project onto a k+p dim
    // Gaussian sketch with one distributed pass, then factor the small
    // matrix — Halko et al. 2011), none of which this operator needs at
    // the dims its callers (PCA whiten / SemDeDup prep) run at.
    require(d <= 1024,
      s"jacobiEigen is a driver-side O(d^3) factorization, refusing d=$d" +
        " (> 1024). Use a distributed top-k method instead: power" +
        " iteration / Lanczos, or randomized SVD (one distributed sketch" +
        " pass + small-matrix factor).")
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off += a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > tol) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    // rows = eigenvectors; sign-normalize (largest-|component| positive)
    // so the decomposition is unique and runs are comparable
    val vecs = order.map { k =>
      val ev = Array.tabulate(d)(i => v(i)(k))
      val mi = ev.indices.maxBy(i => math.abs(ev(i)))
      if (ev(mi) < 0) ev.map(x => -x) else ev
    }.toArray
    (vals, vecs)
  }

  /** Top-k principal components by DISTRIBUTED subspace (block power)
    * iteration — the d > 1024 path the [[jacobiEigen]] guard names
    * (VERDICT r15 item 1). The dense d x d covariance is NEVER formed:
    * each iteration computes Cov·Q = Xcᵀ(XcQ)/(n-1) as ONE treeAggregate
    * pass whose accumulator is d x k doubles (d=4096, k=16 -> 512 KB per
    * task — vs the 128 MB dense covariance), the same executor-side
    * sweep discipline as QualityModel. Driver work per iteration is the
    * O(d·k²) Gram-Schmidt re-orthonormalization; the final Rayleigh-Ritz
    * factors only the k x k reduced matrix (via [[jacobiEigen]], trivially
    * inside its bound). Convergence is the classic (λ_{k+1}/λ_k)^t rate;
    * `iters` caps the passes and an eigvec-overlap early-exit stops as
    * soon as every column is stationary.
    *
    * Returns (n, mu[d], eigvals[k] desc, components[k][d] rows
    * sign-normalized like jacobiEigen, explainedVarianceFraction).
    * Deterministic given the partitioning: Q0 is seeded, each pass is
    * the same treeAggregate fold, ties resolve by column order. */
  def topKComponentsPowerIteration(
      emb: DataFrame, k: Int, iters: Int = 12, seed: Long = 42L,
      tol: Double = 1e-12)
      : (Long, Array[Double], Array[Double], Array[Array[Double]], Double) = {
    val vecs = emb.select(col("embedding")).rdd
      .map(r => {
        val s = r.getSeq[Number](0)
        val a = new Array[Double](s.length)
        var i = 0
        val itr = s.iterator
        while (itr.hasNext) { a(i) = itr.next().doubleValue(); i += 1 }
        a
      })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val d = vecs.first().length
      require(k >= 1 && k <= d,
        s"top-k subspace needs 1 <= k <= d, got k=$k d=$d")
      // pass 1: n, per-dim sums and square sums (mu + total variance)
      val acc0 = vecs.treeAggregate(new Array[Double](1 + 2 * d))(
        (acc, x) => {
          require(x.length == d, s"dim mismatch: ${x.length} vs $d")
          acc(0) += 1.0
          var i = 0
          while (i < d) {
            acc(1 + i) += x(i); acc(1 + d + i) += x(i) * x(i); i += 1
          }
          acc
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      val n = acc0(0).toLong
      require(n >= 2, s"PCA needs >= 2 vectors, got $n")
      val mu = Array.tabulate(d)(i => acc0(1 + i) / n)
      val trace = (0 until d).map(i =>
        math.max((acc0(1 + d + i) - n * mu(i) * mu(i)) / (n - 1), 0.0)).sum
      val sc = emb.sparkSession.sparkContext
      val bMu = sc.broadcast(mu)
      // OVERSAMPLING (Halko et al. 2011 §4.3): iterate k + p columns so
      // the reported top-k converge at rate (λ_{k+p+1}/λ_k)^t instead of
      // (λ_{k+1}/λ_k)^t — near-degenerate spectra past rank k no longer
      // stall the loop. Each distributed pass is wall-dominated by job
      // scheduling at small corpora and by the corpus scan at large, so
      // FEWER passes with a wider accumulator is strictly cheaper.
      val kk = math.min(d, k + math.max(4, k))
      // deterministic seeded start, orthonormalized
      val rnd = new java.util.Random(seed)
      var q = Array.fill(d, kk)(rnd.nextGaussian())
      orthonormalizeColumns(q, seed)
      // one distributed pass: Y = Cov · Q, accumulator d*kk flat
      def covTimes(qCur: Array[Array[Double]]): Array[Array[Double]] = {
        val flat = new Array[Double](d * kk)
        var i = 0
        while (i < d) {
          var c = 0
          while (c < kk) { flat(i * kk + c) = qCur(i)(c); c += 1 }
          i += 1
        }
        val bQ = sc.broadcast(flat)
        val acc = vecs.treeAggregate(new Array[Double](d * kk))(
          (a, x) => {
            val qf = bQ.value; val m = bMu.value
            val z = new Array[Double](kk)
            var i = 0
            while (i < d) {
              val xc = x(i) - m(i)
              var c = 0
              while (c < kk) { z(c) += xc * qf(i * kk + c); c += 1 }
              i += 1
            }
            i = 0
            while (i < d) {
              val xc = x(i) - m(i)
              var c = 0
              while (c < kk) { a(i * kk + c) += xc * z(c); c += 1 }
              i += 1
            }
            a
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
        // non-blocking: a blocking destroy per pass costs more wall than
        // the pass itself at small corpora; ContextCleaner reaps the rest
        bQ.destroy()
        Array.tabulate(d, kk)((i, c) => acc(i * kk + c) / (n - 1))
      }
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val y = covTimes(q)
        // column overlap with the previous basis BEFORE re-orthonormalizing
        val yn = y.map(_.clone())
        orthonormalizeColumns(yn, seed + 1 + it)
        // convergence is judged on the REPORTED k columns only — the
        // oversample tail may keep churning in a flat spectrum without
        // affecting the Rayleigh-Ritz top-k
        var maxDelta = 0.0
        var c = 0
        while (c < k) {
          var dot = 0.0; var i = 0
          while (i < d) { dot += yn(i)(c) * q(i)(c); i += 1 }
          maxDelta = math.max(maxDelta, 1.0 - math.abs(dot))
          c += 1
        }
        q = yn
        converged = maxDelta < tol
        it += 1
      }
      // Rayleigh-Ritz over all kk columns: B = Qᵀ(Cov·Q), kk x kk —
      // factor exactly, report the top k pairs
      val y = covTimes(q)
      val b = Array.tabulate(kk, kk) { (a, c) =>
        var s = 0.0; var i = 0
        while (i < d) { s += q(i)(a) * y(i)(c); i += 1 }
        s
      }
      // symmetrize fp residue so jacobiEigen's symmetric sweeps are exact
      val bSym = Array.tabulate(kk, kk)((a, c) => (b(a)(c) + b(c)(a)) / 2.0)
      val (thetaAll, u) = jacobiEigen(bSym)
      val theta = thetaAll.take(k)
      val comps = Array.tabulate(k) { m =>
        val w = new Array[Double](d)
        var i = 0
        while (i < d) {
          var s = 0.0; var c = 0
          while (c < kk) { s += u(m)(c) * q(i)(c); c += 1 }
          w(i) = s; i += 1
        }
        val mi = w.indices.maxBy(i => math.abs(w(i)))
        if (w(mi) < 0) w.map(x => -x) else w
      }
      val explained =
        if (trace <= 0.0) 0.0
        else math.min(theta.map(math.max(_, 0.0)).sum / trace, 1.0)
      bMu.destroy()
      (n, mu, theta, comps, explained)
    } finally vecs.unpersist()
  }

  /** In-place modified Gram-Schmidt over the COLUMNS of a d x k matrix.
    * A numerically collapsed column (norm ~ 0 after projection — the
    * start basis hit an invariant subspace) is re-seeded
    * deterministically and re-orthogonalized, so the basis never loses
    * rank silently. */
  private def orthonormalizeColumns(
      m: Array[Array[Double]], seed: Long): Unit = {
    val d = m.length; val k = if (d == 0) 0 else m(0).length
    var c = 0
    while (c < k) {
      var attempt = 0
      var norm = 0.0
      do {
        if (attempt > 0) {
          val r = new java.util.Random(seed * 7919L + c * 104729L + attempt)
          var i = 0
          while (i < d) { m(i)(c) = r.nextGaussian(); i += 1 }
        }
        // project out the previous columns TWICE ("twice is enough",
        // Kahan/Parlett): on rank-deficient input a Cov·Q column
        // collapses to fp noise and single-pass MGS leaves O(1)
        // non-orthogonality after normalization — measured live as a
        // planted rank-3 spectrum reporting theta0 60% ABOVE the true
        // λmax (Rayleigh bound only holds for an orthonormal basis)
        var pass = 0
        while (pass < 2) {
          var p = 0
          while (p < c) {
            var dot = 0.0; var i = 0
            while (i < d) { dot += m(i)(p) * m(i)(c); i += 1 }
            i = 0
            while (i < d) { m(i)(c) -= dot * m(i)(p); i += 1 }
            p += 1
          }
          pass += 1
        }
        norm = 0.0
        var i = 0
        while (i < d) { norm += m(i)(c) * m(i)(c); i += 1 }
        norm = math.sqrt(norm)
        attempt += 1
      } while (norm < 1e-150 && attempt < 8)
      require(norm >= 1e-150, s"basis column $c collapsed after re-seeds")
      var i = 0
      while (i < d) { m(i)(c) /= norm; i += 1 }
      c += 1
    }
  }

  /** PCA: project every vector onto the top-k principal components of the
    * one-pass covariance. Returns (vec_id, pc: array<double>[k]) plus the
    * fraction of variance the k components explain (via the second
    * element). The projection itself is a map-only stage against a
    * broadcast (k x d) component matrix.
    *
    * ROUTING (r16, closes the ADVICE r15 guard mismatch): past d = 1024
    * the exact dense path would pay meanAndCovariance's full distributed
    * pass and only then hit jacobiEigen's driver-side refusal — so
    * high-dim inputs route UP FRONT to
    * [[topKComponentsPowerIteration]], which never forms the d x d
    * matrix. Production 768..4096-dim model embeddings therefore work
    * out of the box; d <= 1024 keeps the exact eigendecomposition. */
  def pcaProject(emb: DataFrame, k: Int): (DataFrame, Double) = {
    // dimension probe: limit(1) (a one-partition job), fail-loud on the
    // empty/null cases a bare .first() would surface as
    // NoSuchElementException/NPE (ADVICE r16)
    val probe = emb.select(col("embedding")).limit(1).collect()
    require(probe.nonEmpty,
      "pcaProject: input has no rows — cannot infer the embedding dimension")
    require(!probe(0).isNullAt(0),
      "pcaProject: first embedding is NULL — filter nulls upstream")
    val d0 = probe(0).getSeq[Any](0).length
    if (d0 > 1024) {
      val (_, mu, _, comps, explained) =
        topKComponentsPowerIteration(emb, math.min(k, d0))
      return (projectOnto(emb, mu, comps), explained)
    }
    val (_, mu, cov) = meanAndCovariance(emb)
    val (vals, vecs) = jacobiEigen(cov)
    val kk = math.min(k, vals.length)
    val total = vals.map(math.max(_, 0.0)).sum
    val explained = if (total == 0.0) 0.0 else vals.take(kk).map(math.max(_, 0.0)).sum / total
    (projectOnto(emb, mu, vecs.take(kk)), explained)
  }

  /** Map-only projection of `embedding` onto broadcast components:
    * pc[c] = Σ_i (x[i] - mu[i]) * comps[c][i], the index-ordered fold
    * the lazy oracles reproduce bit-for-bit. Declared over array<double>
    * so array<float> inputs arrive through Spark's exact float->double
    * upcast — identical values to the old Seq[Float] signature. */
  private[graft] def projectOnto(
      emb: DataFrame, mu: Array[Double],
      comps: Array[Array[Double]]): DataFrame = {
    val sc = emb.sparkSession.sparkContext
    val bMu = sc.broadcast(mu)
    val bComp = sc.broadcast(comps)
    val project = udf { (x0: Seq[Double]) =>
      val comp = bComp.value; val m = bMu.value
      // ITERATOR copy to a primitive array, then primitive-only loops.
      // Load-bearing at high d: the Seq a Scala UDF receives has
      // LINEAR-cost indexed access in this Spark version (measured
      // ~3 ms/row at d=1536 via x(i) — ~2.4M traversal steps per row —
      // vs ~0.2 us/element through the iterator).
      val x = new Array[Double](x0.length)
      var j = 0
      val itr = x0.iterator
      while (itr.hasNext) { x(j) = itr.next(); j += 1 }
      Array.tabulate(comp.length) { c =>
        var s = 0.0; var i = 0
        val row = comp(c)
        while (i < row.length) { s += (x(i) - m(i)) * row(i); i += 1 }
        s
      }
    }
    emb.select(col("vec_id"), col("label"),
      project(col("embedding").cast("array<double>")).as("pc"))
  }

  /** Deterministic JL-style EXPANSION matrix (dHi x dLo): entry (i, j)
    * is derived from md5("r_i_j") exactly as the banded-MinHash family
    * derives its hashes, so DuckDB re-derives the identical doubles from
    * the same formula — r = (h % 2001 - 1000) / 1000.0 in [-1, 1] with
    * h = the first 15 md5 hex digits as a (positive, < 2^60) long.
    * Used to lift the 64-dim fixture into a >= 1024-dim corpus whose
    * covariance exercises the distributed PCA path; the lift is a
    * fixture DERIVATION, not a production operator. */
  def jlExpandMatrix(dHi: Int, dLo: Int): Array[Array[Double]] =
    jlMatrixMemo.synchronized {
      // a pure deterministic constant — memoized per (dHi, dLo): the
      // 98k md5 calls cost ~1 s per build and the registry row's two
      // lazy-oracle closures would otherwise each pay it
      jlMatrixMemo.getOrElseUpdate((dHi, dLo), {
        val md = java.security.MessageDigest.getInstance("MD5")
        Array.tabulate(dHi, dLo) { (i, j) =>
          md.reset()
          val dig = md.digest(s"r_${i}_$j".getBytes("UTF-8"))
          // first 15 hex digits = the top 7.5 bytes, big-endian
          var h = 0L
          var b = 0
          while (b < 7) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
          h = (h << 4) | ((dig(7) >> 4) & 0xfL)
          ((h % 2001L) - 1000L) / 1000.0
        }
      })
    }

  private val jlMatrixMemo =
    scala.collection.mutable.Map.empty[(Int, Int), Array[Array[Double]]]

  /** Lift `embedding` (dLo floats) to dHi doubles via [[jlExpandMatrix]]:
    * out[i] = Σ_j R[i][j] * x[j], the j-ordered fold DuckDB reproduces.
    * Map-only against the broadcast R (dHi x 64 doubles = ~786 KB at
    * dHi = 1536 — well under broadcast budgets). */
  def jlExpand(emb: DataFrame, dHi: Int, dLo: Int): DataFrame = {
    val bR = emb.sparkSession.sparkContext.broadcast(jlExpandMatrix(dHi, dLo))
    val lift = udf { (x0: Seq[Double]) =>
      val r = bR.value
      require(x0.length == r(0).length,
        s"jlExpand dim mismatch: ${x0.length} vs ${r(0).length}")
      // iterator-copy once, then primitive-only fold (dHi x dLo per
      // row) — see projectOnto's linear-indexed-Seq note
      val x = new Array[Double](x0.length)
      var j = 0
      val itr = x0.iterator
      while (itr.hasNext) { x(j) = itr.next(); j += 1 }
      Array.tabulate(r.length) { i =>
        var s = 0.0; var jj = 0
        val row = r(i)
        while (jj < row.length) { s += row(jj) * x(jj); jj += 1 }
        s
      }
    }
    emb.select(col("vec_id"), col("label"),
      lift(col("embedding").cast("array<double>")).as("embedding"))
  }
}
