package graft.ext

import org.apache.spark.ml.feature.{HashingTF, IDF, MinHashLSH, RegexTokenizer, StopWordsRemover}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** spark.ml-backed similarity / text-analysis operators (SURVEY §2.3
  * "Extension operators"). These are the scale paths; the exact
  * brute-force twins live in PipelineQ as recall oracles.
  *
  * 100 TB posture: every join here is LSH-bucketed (approxSimilarityJoin
  * hashes both sides and joins on bucket keys) — all-pairs products never
  * materialize. Model fits (IDF, LSH random planes) are tiny
  * driver-side matrices broadcast to executors.
  */
object Similarity {

  /** documents -> binary term vectors over word 3-gram shingles (the
    * MinHash input space; numFeatures=2^18 keeps collisions ~0 at corpus
    * vocab sizes while the vector stays sparse). Shingling via the
    * compiled UDF in [[graft.functions.TextShingles]] — 9x the
    * interpreted-HOF form, which dominated this pipeline's wall time.
    *
    * Shingles appearing in more than `dfCap` documents are pruned before
    * vectorization (mirrors [[Dedup.nearDupEdges]]): ubiquitous shingles
    * carry no dedup signal but inflate every vector, every MinHash
    * evaluation, and the LSH join's candidate volume — the standard
    * document-frequency pruning a web-scale dedup pipeline applies.
    * Docs whose shingles are all pruned drop out (they can only pair
    * through signal-free shingles). */
  def shingleVectors(docs: DataFrame, numFeatures: Int = 1 << 18, dfCap: Int = 20): DataFrame = {
    val sh0 = Spread(docs).select(col("doc_id"),
      explode(graft.functions.TextShingles.shingle3(split(col("text"), "\\s+"))).as("shingle"))
    val pruned = sh0.join(
        sh0.groupBy("shingle").agg(count(lit(1)).as("c")).filter(col("c") <= dfCap),
        "shingle")
      .groupBy("doc_id").agg(collect_list("shingle").as("shingles"))
    new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(numFeatures).setBinary(true)
      .transform(pruned)
  }

  /** The (a, b) MinHash coefficient pairs of the seed-42 model
    * [[minHashNearDups]] trains — one pair per hash table, reflected
    * from spark.ml's `private[ml] val randCoefficients` (package-private
    * compiles to a public accessor). Generation depends only on
    * (seed, numHashTables) — `new Random(seed)` draws, independent of
    * the data — so the Verify-time oracle generator and the query run
    * see identical coefficients. The per-row hash law these feed,
    *   min over active indices of ((1 + idx) * a + b) mod 2038074743,
    * is pinned against `model.transform` output in ExtSpec, so a Spark
    * upgrade that changes the formula fails the suite, not the oracle.
    */
  def minHashCoefficients(vecs: DataFrame, numTables: Int = 8): Array[(Int, Int)] = {
    val model = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numTables).setSeed(42).fit(vecs)
    model.getClass.getMethod("randCoefficients").invoke(model)
      .asInstanceOf[Array[(Int, Int)]]
  }

  /** Near-dup pairs via ml MinHashLSH (jaccard distance < maxDistance —
    * approxSimilarityJoin's threshold compare is strict). */
  def minHashNearDups(docs: DataFrame, maxDistance: Double = 0.5, numTables: Int = 8): DataFrame = {
    // cache: approxSimilarityJoin evaluates the vector pipeline on BOTH
    // sides of the self-join; without this the shingling runs 2x+
    val vecs = Caches.track(shingleVectors(docs).cache())
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numTables).setSeed(42)
    val model = mh.fit(vecs)
    // pre-hash once and cache: approxSimilarityJoin skips its internal
    // transform when the hashes column is already present, halving the
    // pipeline evaluations on a self-join. SLIM to (id, features,
    // hashes): the join explodes, shuffles, and distinct-hashes whole
    // rows, so carrying text/shingles through it multiplies both
    // shuffle bytes and row-hash cost for nothing.
    val hashed = Caches.track(model.transform(vecs)
      .select("doc_id", "features", "hashes").cache())
    model.approxSimilarityJoin(hashed, hashed, maxDistance, "jaccard_dist")
      .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        col("jaccard_dist"))
  }

  /** embeddings -> ml dense vectors, L2-normalized so euclidean NN order
    * equals cosine NN order (BRP-LSH is a euclidean family). */
  def normalizedVectors(emb: DataFrame): DataFrame = {
    val toVec = udf { (arr: Seq[Float]) =>
      val d = arr.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      Vectors.dense(if (n == 0) d else d.map(_ / n))
    }
    emb.withColumn("features", toVec(col("embedding")))
  }

  /** ANN top-k per query vector via bucketed random-projection LSH
    * (the standard Datar et al. euclidean family: h_t(v) =
    * floor(v . w_t / bucketLength), gaussian w_t, deterministic seed).
    *
    * One distributed job for the WHOLE query set — scales to 10^4-10^6
    * query vectors (the per-query `approxNearestNeighbors` loop this
    * replaced was one driver-sequenced Spark job per query). The
    * pipeline is fully Catalyst-native past the hash UDF:
    *
    *   hash     -> (id, table, bucket) rows — three longs, nothing fat
    *   bucket   -> equi-join on (table, bucket) + distinct on the id
    *   join        PAIR (two longs; spark.ml's approxSimilarityJoin
    *               distinct-hashes whole rows incl. vector UDTs here,
    *               which made it 10x slower on the same candidates)
    *   distance -> join pair ids back to the embedding arrays and score
    *               with the codegen'd cosine_sim expression
    *   top-k    -> bounded-heap topk_by_score: k rows per query per
    *               partition cross the shuffle, never |candidates|
    *
    * Empty query sets yield an empty frame, not an error. `maxDistance`
    * bounds euclidean distance on the L2-normalized vectors ([0, 2]);
    * the default 2.0 accepts every bucket collision, so recall is
    * governed purely by the LSH tables.
    *
    * `queries` is a DataFrame with a `vec_id` column naming the query
    * vectors (any other columns are ignored) — a semi-join prunes the
    * query side, so query cardinality is unbounded by plan size (an
    * earlier `isin(ids)` literal form compiled a predicate per id and
    * stopped scaling around 10^3). The id set is broadcast: 10^6 ids
    * ~ 8 MB, comfortably under executor memory; beyond that, drop the
    * broadcast hint and let AQE pick the join.
    *
    * All embeddings must share one dimension (asserted per row against a
    * sampled row's length — heterogeneous corpora fail loudly instead of
    * silently hashing a prefix). Intermediates are cached and tracked:
    * call [[Caches.releaseAll]] when done with the returned frame (it
    * frees only this library's caches, unlike
    * `spark.catalog.clearCache()`). */
  def annTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      bucketLength: Double,
      numTables: Int,
      maxDistance: Double): DataFrame =
    annTopKScores(emb, queries, k, bucketLength, numTables, maxDistance)
      .select(col("qid"), col("cid"),
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("cos"))).as("dist"))

  /** [[annTopK]] before the cosine→euclidean output transform —
    * (qid, cid, cos) with cos the RAW codegen'd cosine_sim score (the
    * routed front door emits this form; converting dist back to cos
    * would round twice and break oracle bit-equality). */
  private[graft] def annTopKScores(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      bucketLength: Double,
      numTables: Int,
      maxDistance: Double): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val hashedOpt = hashedBuckets(emb, bucketLength, numTables)
    if (hashedOpt.isEmpty) return spark.emptyDataFrame
      .select(lit(0L).as("qid"), lit(0L).as("cid"), lit(0.0).as("cos")).limit(0)
    val hashed = Caches.track(hashedOpt.get.cache())
    // semi-join prune of the query side (plan size independent of |Q|;
    // left_semi emits each corpus row at most once, so duplicate query
    // ids need no distinct — no extra shuffle)
    val flatQ = hashed.join(broadcast(queries.select(col("vec_id"))), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("tbl"), col("h"))
    val cand = flatQ.join(hashed, Seq("tbl", "h"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"))
      .distinct()
    // euclidean-on-normalized == monotone in cosine: dist = sqrt(2-2cos)
    val minCos = 1.0 - maxDistance * maxDistance / 2.0
    val qe = emb.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ce = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    cand.join(qe, "qid").join(ce, "cid")
      .withColumn("cos", expr("cosine_sim(qe, ce)"))
      .filter(col("cos") >= minCos)
      .groupBy("qid")
      .agg(expr(s"topk_by_score(cos, cid, $k)").as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("cid"), col("t.score").as("cos"))
  }

  /** (vec_id, tbl, h) bucket rows for every embedding under `numTables`
    * deterministic (seed 42) bucketed-random-projection hash tables —
    * the shared LSH front end of [[annTopK]] and
    * [[cosineCandidatePairs]]. With `hashesPerTable` = m > 1, each
    * table's bucket id is the combined key of m independent projections
    * (the standard AND-amplification: per-table collision probability
    * p^m, OR across tables) — needed when the similarity threshold is
    * close enough to the random-pair background that a single
    * projection cannot separate them. The m floors are folded into one
    * long (combining collisions only ADD candidates, and candidates are
    * exact-verified downstream — recall is never lost). None when the
    * corpus is empty (no row to sample the dimension from). */
  /** The deterministic seed-42 BRP hyperplanes of [[hashedBuckets]]:
    * unit-normalized gaussian directions, so bucketLength is measured
    * in the vectors' own scale (matching spark.ml's BRP convention).
    * Exposed so the ext_ann_topk lazy oracles can inline the SAME
    * planes the query run hashes with (the generation is a pure
    * function of (dim, numTables, hashesPerTable)). */
  private[graft] def lshPlanes(dim: Int, numTables: Int,
      hashesPerTable: Int): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(42)
    Array.fill(numTables, hashesPerTable) {
      val w = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / n)
    }
  }

  private[graft] def hashedBuckets(
      emb: DataFrame,
      bucketLength: Double,
      numTables: Int,
      hashesPerTable: Int = 1): Option[DataFrame] = {
    val spark = emb.sparkSession
    // deterministic gaussian hyperplanes, broadcast (numTables x m x dim
    // — tiny); normalization folds into the projection
    val dims = emb.select(size(col("embedding")).as("d")).limit(1).collect()
    if (dims.isEmpty) return None
    val dim = dims.head.getInt(0)
    val planes = lshPlanes(dim, numTables, hashesPerTable)
    val bc = spark.sparkContext.broadcast(planes)
    val bl = bucketLength
    val buckets = udf { (e0: Seq[Float]) =>
      if (e0 == null) Array.empty[Long]
      else {
      // fail loudly on heterogeneous dimensions — a prefix-hash would
      // silently degrade neighbor quality instead
      require(e0.length == dim,
        s"LSH bucketing: embedding of length ${e0.length} in a corpus sampled at dim $dim")
      // one bulk copy: this UDF runs tables x hashes x dim indexed reads
      // per CORPUS row, and the Seq a UDF receives indexes in linear time
      val e = e0.toArray
      var n = 0.0; var i = 0
      while (i < e.length) { n += e(i).toDouble * e(i); i += 1 }
      val inv = if (n == 0) 0.0 else 1.0 / math.sqrt(n)
      bc.value.map { table =>
        var key = 1125899906842597L // large prime seed for the fold
        var t = 0
        while (t < table.length) {
          val w = table(t)
          var d = 0.0; var j = 0
          while (j < w.length) { d += e(j) * inv * w(j); j += 1 }
          key = key * 1000003L + math.floor(d / bl).toLong
          t += 1
        }
        key
      }
      }
    }
    Some(emb.select(col("vec_id"),
      posexplode(buckets(col("embedding"))).as(Seq("tbl", "h"))))
  }

  /** Public index builder for incremental embedding dedup: the
    * (vec_id, tbl, h) bucket rows of [[hashedBuckets]] as a plain
    * DataFrame (empty-typed when the corpus is empty). At 100 TB these
    * rows are what a vector near-dup index persists — numTables longs
    * per vector, written once at ingest, reloaded and passed to
    * [[Dedup.incrementalCosineNearDups]]'s `corpusBuckets` for every
    * future batch (the seed-42 planes are deterministic across
    * sessions, so persisted and fresh buckets are identical — asserted
    * in DedupSpec). Record ALL THREE hash knobs (`bucketLength`,
    * `numTables`, `hashesPerTable`) alongside the index; probes must
    * pin the same values — a silent mismatch loses recall (the bucket
    * rows themselves record none of them). */
  def cosineBucketIndex(
      emb: DataFrame,
      bucketLength: Double = 0.15,
      numTables: Int = 12,
      hashesPerTable: Int = 6): DataFrame =
    hashedBuckets(emb, bucketLength, numTables, hashesPerTable).getOrElse(
      emb.sparkSession.emptyDataFrame.select(
        lit(0L).as("vec_id"), lit(0).as("tbl"), lit(0L).as("h")).limit(0))

  /** Bucket-collision candidate pairs (vec_a < vec_b) over the whole
    * corpus — the LSH front end of embedding near-dup detection
    * ([[Dedup.cosineCanonicalLsh]] scores these exactly and keeps pairs
    * over the cosine threshold). Never all-pairs: cost is Σ bucket².
    * Defaults tuned for the near-dup regime (cosine >= ~0.9): 12 tables
    * of 6 ANDed projections at bucketLength 0.15 measure recall 1.0
    * with ~1% candidate fraction on a 64-dim corpus with planted dups
    * (asserted in DedupSpec). */
  def cosineCandidatePairs(
      emb: DataFrame,
      bucketLength: Double = 0.15,
      numTables: Int = 12,
      hashesPerTable: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    hashedBuckets(emb, bucketLength, numTables, hashesPerTable) match {
      case None =>
        spark.emptyDataFrame
          .select(lit(0L).as("vec_a"), lit(0L).as("vec_b")).limit(0)
      case Some(hashed) =>
        val l = hashed.select(col("vec_id").as("vec_a"), col("tbl"), col("h"))
        val r = hashed.select(col("vec_id").as("vec_b"), col("tbl").as("tbl_r"), col("h").as("h_r"))
        l.join(r, col("tbl") === col("tbl_r") && col("h") === col("h_r")
            && col("vec_a") < col("vec_b"))
          .select("vec_a", "vec_b").distinct()
    }
  }

  /** Knob auto-scaling (VERDICT r5/r6: fixed ANN defaults are a scale
    * trap — bucket/cell occupancy grows with the corpus until the
    * "approximate" path degenerates toward all-pairs). Anchored to the
    * measured SCALE.md curve rather than guessed:
    *
    *  - IVF cells: nCells ∝ √n (the FAISS rule — total cost =
    *    assignment O(n·nCells) + search O(n·nProbe/nCells) balances at
    *    √n), anchored at the measured sf0.1 sweet spot (nCells=16 at
    *    n=2000, recall@10 0.95). VERDICT r9 item 3: the r9 constant-
    *    occupancy law (n/125) made centroid count — and with it the
    *    driver collect, the broadcast, and the per-row assignment work
    *    — LINEAR in the corpus (8M centroids ≈ 4 GB at 10^9 vectors);
    *    √n keeps all three sub-linear (√10^9 ≈ 31.6k cells ≈ 16 MB
    *    broadcast at d=64). When √n centroids outgrow a comfortable
    *    broadcast (~10^12 vectors → 10^6 cells ≈ 0.5 GB), the next
    *    level is a second coarse quantizer (IMI, Babenko & Lempitsky
    *    2012: two √nCells-sized codebooks whose product spans the cell
    *    grid) — documented as the growth path, not needed at any scale
    *    this library's fixtures or a 100 TB corpus reach.
    *  - IVF probes: 4 cells at the measured points; grow ∝ nCells/40
    *    beyond so the probed fraction never falls under 2.5%.
    *  - BRP AND-width m: +2 projections per 10x corpus (6 at 2k, 8 at
    *    20k — re-tightens buckets to ~1.2x growth with zero recall
    *    loss on the planted truth set, DedupSpec).
    *  - BRP bucket length: ∝ 1/sqrt(n) from the measured 2k point,
    *    FLOORED AT 0.1 (r17). The 1/sqrt(n) narrowing keeps per-bucket
    *    occupancy — and so candidate volume — constant, but the r17
    *    fourth-decade gate showed recall at fixed table count is
    *    governed by the ABSOLUTE width (d=64 neighbor distances barely
    *    shrink with n): the old 0.02 floor measured recall@10 = 0.39
    *    at 2M vectors. The measured grid at 2M (50-query sample):
    *    0.02/8T 14.5s R=0.39, 0.02/32T 36.5s R=0.89, 0.05/16T 38.3s
    *    R=0.93, 0.10/8T 30.4s R=0.956 — widening beats OR-amplification
    *    on both axes, so the floor is 0.1 (recall-first contract).
    *    The honest consequence: past the floor, per-query candidate
    *    volume grows ~linearly with n — BRP stays the simple/portable
    *    path, and the 100 TB route is IVF (recall 1.0 measured at the
    *    same 2M gate, √n-cell probe cost, two-level router beyond).
    *
    * Each consumer computes `n` with one cheap count job only when the
    * caller leaves the knob at its ≤0 "auto" sentinel. */
  def autoNCells(n: Long): Int =
    math.max(1,
      math.round(16.0 * math.sqrt(math.max(1L, n) / 2000.0)).toInt)

  def autoNProbe(nCells: Int): Int =
    math.min(nCells, math.max(4, nCells / 40))

  def autoHashesPerTable(n: Long): Int =
    math.max(2, math.min(16,
      math.round(6.0 + 2.0 * math.log10(math.max(1L, n) / 2000.0)).toInt))

  def autoBucketLength(n: Long): Double =
    math.max(0.1, math.min(0.5, 0.15 * math.sqrt(2000.0 / math.max(1L, n))))

  /** Seq-of-ids sugar for [[annTopK]] (small ad-hoc query sets). */
  def annTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int = 10,
      bucketLength: Double = 0.5,
      numTables: Int = 4,
      maxDistance: Double = 2.0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    annTopK(emb, queryIds.toDF("vec_id"), k, bucketLength, numTables, maxDistance)
  }

  /** Corpus-size boundary for [[annTopKRouted]]: at or above this many
    * vectors the router picks IVF; below it BRP-LSH. Set from the r18
    * two-sided crossover measurement (SCALE.md "r18: BRP→IVF routing
    * boundary"): at 2k
    * vectors IVF RECALL collapses (0.656 — the √n-cell law leaves 16
    * cells / 4 probes) while BRP holds 0.978; from 20k up IVF wins
    * both axes (20k: 0.66 s/0.990 vs BRP 1.72 s/0.936; 2M: 6.4 s/1.000
    * vs 29.4 s/0.956 — BRP's post-floor candidate volume is ~linear in
    * n, IVF probe cost ~√n). 20k also keeps every fixture-scale oracle
    * row (≤ sf0.1, n ≤ 12k) on the BRP path bit-unchanged.
    *
    * Re-measured across dimensionality (r19, VERDICT r18 item 5 —
    * SCALE.md grid at d ∈ {64, 512, 1536} × n ∈ {2k, 20k, 200k} with
    * pairwise cosines held exactly fixed): the boundary is d-STABLE,
    * so the route stays single-parameter. IVF's small-n recall
    * collapse is the √n cell count (0.656 at 2k at EVERY d), and at
    * n ≥ 20k IVF holds 0.990 recall at every d while its wall
    * advantage grows with d (16× at 200k × 1536). */
  val brpRouteMaxN: Long = 20000L

  /** Routing decision of [[annTopKRouted]], exposed pure so ExtSpec can
    * pin it: "brp" below [[brpRouteMaxN]], "ivf" at/above, unless
    * forced. */
  def annRouteChoice(n: Long, force: String = "auto"): String =
    force match {
      case "brp" | "ivf" => force
      case _ => if (n >= brpRouteMaxN) "ivf" else "brp"
    }

  /** Auto-routing ANN front door (r18, VERDICT r17 item 6): one call
    * that picks the scale-appropriate index — BRP-LSH below
    * [[brpRouteMaxN]] corpus rows (simple, no fit stage, recall-floored
    * by the 0.1 bucket width), IVF at or above it (√n-cell probe cost —
    * the 100 TB path; BRP's post-floor candidate volume is ~linear in
    * n, see the [[autoBucketLength]] scaladoc). `force` = "brp"/"ivf"
    * overrides; anything else = auto. `corpusCount` > 0 skips the
    * count job (pass a previously computed count). Unified output
    * (qid, cid, cos) — the BRP arm emits [[annTopKScores]]' raw
    * codegen'd cosine directly (a dist→cos round-trip would round
    * twice and lose bit-equality with the lazy oracle). */
  def annTopKRouted(
      emb: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      corpusCount: Long = 0L,
      force: String = "auto"): DataFrame = {
    val n = if (corpusCount > 0) corpusCount else emb.count()
    annRouteChoice(n, force) match {
      case "ivf" => ivfTopK(emb, queries, k, corpusCount = n)
      case _ => annTopKScores(emb, queries, k, autoBucketLength(n),
        numTables = 8, maxDistance = 2.0)
    }
  }

  /** IVF-style ANN: coarse-quantize the corpus into `nCells` cells
    * (deterministic seed centroids = the first nCells vectors, one
    * refinement sweep), then search only the `nProbe` cells nearest to
    * each query. The inverted-file shape: search cost drops from
    * |corpus| to ~|corpus| * nProbe / nCells per query, and the cell
    * assignment is a narrow map — the partition-pruning analogue for
    * vector search (complements the BRP-LSH path; both are the 100 TB
    * routes vs brute force).
    *
    * `queries` is a DataFrame with a `vec_id` column (other columns
    * ignored), semi-joined against the corpus — see [[annTopK]] for why
    * this beats an id-literal predicate at real query cardinality.
    *
    * `corpusCount` > 0 skips the auto-mode count job (ADVICE/VERDICT
    * r7: a pipeline calling ANN per batch otherwise re-counts the
    * corpus on every call) — pass the count a prior stage already
    * computed, or the row count persisted with the index metadata. */
  def ivfTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCells: Int = 0,
      nProbe: Int = 0,
      corpusCount: Long = 0L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // ≤0 = auto: constant-occupancy cells derived from the corpus count
    // (see autoNCells scaladoc — the measured production fix for the
    // fixed-knob superlinear blowup). One count job, only in auto mode
    // and only when the caller didn't hand the count in.
    val cells = if (nCells > 0) nCells
                else autoNCells(if (corpusCount > 0) corpusCount else emb.count())
    val probes = if (nProbe > 0) nProbe else autoNProbe(cells)
    val (assigned, centroids) = assignCells(emb, cells)
    val probeIdx =
      if (centroids.length >= twoLevelCellThreshold) Some(buildTwoLevel(centroids))
      else None
    val bc2 = spark.sparkContext.broadcast((centroids, probeIdx))

    // ONE distributed job for the whole query set (the per-query
    // collect()+job loop this replaces was a driver bottleneck at real
    // query cardinality): each query explodes into its nProbe nearest
    // cells, the tiny query side broadcasts into a join on cell (the
    // corpus never shuffles), and the bounded top-k heap keeps k rows
    // per query per partition. Empty query sets yield an empty frame.
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val probeCells = udf { (v: Vector) =>
      val (cs, ix) = bc2.value
      ix match {
        case Some(i) => probeCellsTwoLevel(cs, i, v, probes)
        case None =>
          cs.indices.sortBy { c =>
            var d = 0.0; var i = 0
            val ct = cs(c)
            while (i < ct.length) { val t = ct(i) - v(i); d += t * t; i += 1 }
            d
          }.take(probes).toArray
      }
    }
    val qside = assigned
      .join(broadcast(queries.select(col("vec_id"))), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("features").as("qf"),
        explode(probeCells(col("features"))).as("cell"))
    // unit vectors: dot == cosine
    val dot = udf { (q: Vector, v: Vector) =>
      var s = 0.0; var i = 0
      while (i < q.size) { s += q(i) * v(i); i += 1 }
      s
    }
    broadcast(qside).join(assigned, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        dot(col("qf"), col("features")).as("cos"))
      .groupBy("qid")
      .agg(expr(s"topk_by_score(cos, cid, $k)").as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("cid"), col("t.score").as("cos"))
  }

  /** Seq-of-ids sugar for [[ivfTopK]] (small ad-hoc query sets).
    * No defaults here — Scala allows them on only one overload; they
    * live on the DataFrame form. nCells/nProbe ≤0 = auto. */
  def ivfTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nCells: Int,
      nProbe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    ivfTopK(emb, queryIds.toDF("vec_id"), k, nCells, nProbe)
  }

  /** Index of the squared-L2-nearest centroid (shared by the IVF search
    * path and SemDeDup clustering). Tight while-loop — runs per row on
    * executors against a broadcast centroid matrix. */
  private[graft] def nearestCell(cs: Array[Array[Double]], v: Vector): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      val ct = cs(c)
      while (i < ct.length) { val t = ct(i) - v(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Two-level coarse-quantizer router — the working answer to the r9
    * scale flag's last mile: `autoNCells ∝ √n` keeps the centroid set
    * BROADCASTABLE to 10⁹+ vectors, but the flat per-row scan is still
    * O(√n) dists/row (11.3k at 10⁹, 360k at 10¹²). Level 1 clusters
    * the nCells centroids into g ≈ √nCells groups (a driver-side Lloyd
    * over the centroid matrix — O(nCells·g·sweeps) flops, trivial next
    * to one data pass); a row then scans the g group centroids, keeps
    * the `wGroups` nearest, and scans only their member cells exactly:
    * O(√nCells·const) per row (~950 dists instead of 11.3k at 10⁹,
    * ~5.4k instead of 360k at 10¹²). This is FAISS's
    * two-level/IMI-coarse practice in its simplest deterministic form.
    *
    * Routing is APPROXIMATE (the true nearest cell can sit in an
    * unprobed group), so the router engages only past
    * [[twoLevelCellThreshold]] — every fixture-scale oracle row keeps
    * the exact flat scan bit-for-bit. Determinism: fixed seeds (first
    * g centroids), strict-< argmin, index-order sweeps, (dist, id)
    * ordered group probes and member scans — bit-stable run-to-run,
    * same as the flat path. ClusterSpec gates ≥99% assignment
    * agreement on clustered data and end-to-end IVF recall with the
    * router FORCED on at fixture scale. */
  private[graft] final class TwoLevelIndex(
      val groups: Array[Array[Double]],
      val members: Array[Array[Int]]) extends Serializable

  /** Flat-scan cell count above which assign/probe route through the
    * two-level index. Fixture nCells (16–160 under the √n law) stay
    * far below it; 10⁹ vectors (11.3k cells) engage it.
    * Tests and the scale harness force the router at fixture scale via
    * [[withTwoLevelThreshold]] — a DynamicVariable scope, so the
    * override is visible ONLY to the forcing thread for the duration
    * of its block (ADVICE r10: the previous mutable global var raced
    * against any concurrently planning thread in the same JVM and
    * silently changed its routing path). Production code never
    * overrides it. */
  private[graft] def twoLevelCellThreshold: Int = twoLevelCellThresholdDyn.value
  private val twoLevelCellThresholdDyn =
    new scala.util.DynamicVariable[Int](4096)
  private[graft] def withTwoLevelThreshold[A](t: Int)(f: => A): A =
    twoLevelCellThresholdDyn.withValue(t)(f)

  /** Groups probed per lookup. Misses decay geometrically in this; 8
    * measured ≥99% agreement on clustered fixtures (ClusterSpec). */
  private[graft] val twoLevelWGroups = 8

  private[graft] def buildTwoLevel(cs: Array[Array[Double]]): TwoLevelIndex = {
    val n = cs.length
    val g = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val dim = cs(0).length
    var gc = Array.tabulate(g)(i => cs(i).clone)
    val assign = new Array[Int](n)
    def assignAll(): Unit = {
      var c = 0
      while (c < n) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < g) {
          var d = 0.0; var i = 0; val w = gc(j); val v = cs(c)
          while (i < dim) { val t = w(i) - v(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        assign(c) = best; c += 1
      }
    }
    var sweep = 0
    while (sweep < 3) {
      assignAll()
      val sums = Array.fill(g)(new Array[Double](dim))
      val cnt = new Array[Long](g)
      var c = 0
      while (c < n) {
        val a = assign(c); val v = cs(c); var i = 0
        while (i < dim) { sums(a)(i) += v(i); i += 1 }
        cnt(a) += 1; c += 1
      }
      var j = 0
      while (j < g) {
        if (cnt(j) > 0) {
          var i = 0
          while (i < dim) { sums(j)(i) /= cnt(j); i += 1 }
          gc(j) = sums(j)
        } // empty group keeps its centroid (deterministic, harmless)
        j += 1
      }
      sweep += 1
    }
    assignAll() // membership must match the FINAL group centroids
    val mem = Array.fill(g)(new scala.collection.mutable.ArrayBuffer[Int])
    var c = 0
    while (c < n) { mem(assign(c)) += c; c += 1 }
    new TwoLevelIndex(gc, mem.map(_.toArray))
  }

  /** (dist, group-id)-ordered group indices for `v` — the probe order
    * both two-level lookups share. */
  private def groupOrder(idx: TwoLevelIndex, v: Vector): Array[Int] = {
    val g = idx.groups.length
    val gd = new Array[Double](g)
    var j = 0
    while (j < g) {
      var d = 0.0; var i = 0; val ct = idx.groups(j)
      while (i < ct.length) { val t = ct(i) - v(i); d += t * t; i += 1 }
      gd(j) = d; j += 1
    }
    Array.range(0, g).sortBy(j => (gd(j), j))
  }

  /** Two-level [[nearestCell]]: exact argmin over the member cells of
    * the `wGroups` nearest groups (ties to the smallest cell id — the
    * flat scan's first-wins order). Falls back to the flat scan if the
    * probed groups are all empty (possible only with many empty
    * level-1 groups — degenerate centroid sets). */
  private[graft] def nearestCellTwoLevel(cs: Array[Array[Double]],
      idx: TwoLevelIndex, v: Vector, wGroups: Int = twoLevelWGroups): Int = {
    val order = groupOrder(idx, v)
    val w = math.min(wGroups, order.length)
    var best = -1; var bd = Double.MaxValue
    var oj = 0
    while (oj < w) {
      val ms = idx.members(order(oj))
      var m = 0
      while (m < ms.length) {
        val c = ms(m)
        var d = 0.0; var i = 0; val ct = cs(c)
        while (i < ct.length) { val t = ct(i) - v(i); d += t * t; i += 1 }
        if (d < bd || (d == bd && c < best)) { bd = d; best = c }
        m += 1
      }
      oj += 1
    }
    if (best < 0) nearestCell(cs, v) else best
  }

  /** Two-level probe-cell selection: gather the members of the nearest
    * `wGroups` groups — expanding further only if those cover fewer
    * than `probes` candidates — then exact-(dist, id)-sort the gathered
    * members and keep `probes`. A fixed group budget (not the minimal
    * cover) keeps boundary cells competitive: at degenerate sizes
    * (g <= wGroups) this IS the flat scan, and at scale the gathered
    * set is ~wGroups·√nCells members — the O(√n·const) contract. */
  private[graft] def probeCellsTwoLevel(cs: Array[Array[Double]],
      idx: TwoLevelIndex, v: Vector, probes: Int,
      wGroups: Int = twoLevelWGroups): Array[Int] = {
    val order = groupOrder(idx, v)
    val picked = new scala.collection.mutable.ArrayBuffer[Int]
    var oj = 0
    while (oj < order.length &&
        (oj < wGroups || picked.length < probes)) {
      picked ++= idx.members(order(oj)); oj += 1
    }
    picked.toArray.sortBy { c =>
      var d = 0.0; var i = 0; val ct = cs(c)
      while (i < ct.length) { val t = ct(i) - v(i); d += t * t; i += 1 }
      (d, c)
    }.take(probes)
  }

  /** Deterministic k-means cell assignment over unit-normalized
    * embeddings: seeds = first `nCells` vectors by vec_id, one Lloyd
    * refinement sweep, then a narrow-map assignment. Returns the
    * assigned frame (vec_id, features, cell) [cached] and the centroid
    * matrix. Driver memory is nCells-bounded — the corpus is never
    * collected; the only shuffle is the nCells-key reduce of the Lloyd
    * sweep. Shared by [[ivfTopK]] and [[Dedup.semanticCanonical]]. */
  private[graft] def assignCells(
      emb: DataFrame,
      nCells: Int): (DataFrame, Array[Array[Double]]) = {
    val spark = emb.sparkSession
    val vecs = Caches.track(normalizedVectors(emb)
      .select(col("vec_id"), col("features")).cache())
    val seeds = vecs.orderBy("vec_id").limit(nCells)
      .collect().map(_.getAs[Vector]("features").toArray)
    // past the threshold, route assignment through the two-level index
    // (built driver-side once per centroid set, shipped with the
    // broadcast) — O(√nCells) dists/row instead of O(nCells)
    val seedIdx =
      if (seeds.length >= twoLevelCellThreshold) Some(buildTwoLevel(seeds))
      else None
    val bc = spark.sparkContext.broadcast((seeds, seedIdx))
    // Lloyd sweep: assign is a narrow map (no join needed — the vector is
    // already on the row); the only shuffle is the nCells-key reduce.
    // r10: the centroid mean rides 1e-12 floor-quantized LONG sums (the
    // pageRank exact-decimal pattern) — long addition is exact and
    // order-independent, so the trained centroids are bit-identical
    // run-to-run regardless of reduceByKey combine order. That
    // determinism is what lets the lazy oracles (emb_semdedup /
    // emb_cluster_prune) inline these centroids as literals and have
    // DuckDB reproduce the very assignment the query run used.
    // Components are unit-normalized (|x| <= 1 -> |q| <= 1e12), so a
    // cell overflows long only past ~9.2e6 members per dimension-sum —
    // far beyond the sqrt(n)-cell occupancy (~2.8*sqrt(n)).
    val centroids = vecs.rdd
      .map { r =>
        val v = r.getAs[Vector](1)
        val (cs, ix) = bc.value
        val cell = ix match {
          case Some(i) => nearestCellTwoLevel(cs, i, v)
          case None => nearestCell(cs, v)
        }
        (cell, (v.toArray.map(x => math.floor(x * 1e12).toLong), 1L))
      }
      .reduceByKey { (l: (Array[Long], Long), r: (Array[Long], Long)) =>
        (l._1.zip(r._1).map { case (x, y) => x + y }, l._2 + r._2) }
      .mapValues { case (s, n) => s.map(q => q.toDouble / 1e12 / n) }
      .collect().sortBy(_._1).map(_._2)
    val centroidIdx =
      if (centroids.length >= twoLevelCellThreshold) Some(buildTwoLevel(centroids))
      else None
    val bc2 = spark.sparkContext.broadcast((centroids, centroidIdx))
    // cell assignment is a narrow map — no join, no shuffle
    val assignCell = udf { (v: Vector) =>
      val (cs, ix) = bc2.value
      ix match {
        case Some(i) => nearestCellTwoLevel(cs, i, v)
        case None => nearestCell(cs, v)
      }
    }
    (Caches.track(vecs.withColumn("cell", assignCell(col("features"))).cache()), centroids)
  }

  /** Cluster-density (prototypicality) pruning — the data-selection
    * step of Sorscher et al., "Beyond neural scaling laws" (arXiv
    * 2206.14486), as productionized in SemDeDup/D4-style curation
    * pipelines: cluster the embedding space, score each example by its
    * cosine to its cluster centroid, and DROP the most prototypical
    * `pruneFrac` of each cluster (near-centroid examples carry the
    * least marginal information at large data scale; the retained
    * tail keeps the hard/rare examples).
    *
    * Output: (vec_id, cell, proto_score, keep) — every input row is
    * present; `keep=false` marks the pruned prototypes. Deterministic
    * given the cell assignment (score ties broken by vec_id).
    *
    * Scale shape: reuses [[assignCells]] (seeded k-means-lite — the
    * only shuffle there is an nCells-key reduce; assignment is a
    * narrow broadcast map), then ONE hash exchange on `cell` feeding
    * two Window passes over the same partitioning (count + row_number).
    * Under the r10 √n cell law ([[autoNCells]]) occupancy grows ~2.8·√n
    * — per-cell windows stay SUB-LINEAR in the corpus (88k rows per
    * cell at 10^9 vectors: one comfortable task each), while the
    * per-row assignment scan and the centroid collect stay √n-bounded
    * (the r9 constant-occupancy law made assignment O(n²/125) — the
    * flagged scale killer). No global sort, no skew magnet. */
  def clusterPrune(
      emb: DataFrame,
      pruneFrac: Double = 0.25,
      nCells: Int = 0,
      corpusCount: Long = 0L): DataFrame = {
    require(pruneFrac >= 0.0 && pruneFrac < 1.0,
      s"pruneFrac must be in [0, 1), got $pruneFrac")
    val spark = emb.sparkSession
    val k = if (nCells > 0) nCells
            else autoNCells(if (corpusCount > 0) corpusCount else emb.count())
    val (assigned, centroids) = assignCells(emb.select("vec_id", "embedding"), k)
    // features are unit vectors (normalizedVectors); centroids are MEANS
    // of unit vectors, so normalize them once on the driver — cosine is
    // then a plain dot product in the narrow map below.
    val unitCentroids = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    val bc = spark.sparkContext.broadcast(unitCentroids)
    val protoScore = udf { (cell: Int, v: Vector) =>
      val c = bc.value(cell)
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * v(i); i += 1 }
      s
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    val byProto = w.orderBy(col("proto_score").desc, col("vec_id"))
    assigned
      .withColumn("proto_score", protoScore(col("cell"), col("features")))
      .withColumn("rk", row_number().over(byProto))
      .withColumn("n_cell", count(lit(1)).over(w))
      // drop the ceil(|cell| * pruneFrac) highest-scoring (most
      // prototypical) rows of each cell; pruneFrac=0 keeps everything
      .withColumn("keep", col("rk") > ceil(col("n_cell") * lit(pruneFrac)))
      .select("vec_id", "cell", "proto_score", "keep")
  }

  /** TF-IDF pipeline over documents: tokenize -> stopword filter ->
    * hashed TF -> IDF weighting. Output keeps doc_id + sparse tfidf. */
  def tfidf(docs: DataFrame, numFeatures: Int = 1 << 18): DataFrame = {
    val tokens = new RegexTokenizer().setInputCol("text").setOutputCol("raw_tokens")
      .setPattern("\\s+").transform(docs)
    val filtered = new StopWordsRemover().setInputCol("raw_tokens").setOutputCol("tokens")
      .transform(tokens)
    // cache: IDF.fit AND the final transform both consume tf — without
    // this the tokenize->stopword->hash pipeline runs twice
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(numFeatures).transform(filtered)
      .select("doc_id", "tf").cache()
    Caches.track(tf)
    // empty corpus: IDF.fit throws ("Haven't seen any document yet");
    // an empty, correctly-typed frame is the right answer
    if (tf.isEmpty) return tf.select(col("doc_id"), col("tf").as("tfidf"))
    val idfModel = new IDF().setInputCol("tf").setOutputCol("tfidf").fit(tf)
    idfModel.transform(tf).select("doc_id", "tfidf")
  }

  /** Exact-term TF-IDF weights `(doc_id, t, w)`: raw whitespace tokens,
    * tf = in-doc count, smooth idf = ln((n+1)/(df+1)) + 1. The idf is
    * quantized to a DECIMAL(9,6) grid BEFORE any multiplication, so every
    * downstream sum (L2 norms, cosine numerators) is exact decimal
    * arithmetic — order-independent and equal between Spark and the
    * DuckDB oracle (the [[graft.Det]] discipline, extended through a
    * transcendental: ln() is the only double op, and 6-dp rounding
    * absorbs cross-engine libm ulps except in the measure-zero case of
    * a ln() value within one ulp of a 6-dp half-way point, where the
    * two engines could still quantize differently).
    *
    * This is the fully oracle-paired twin of the hashed [[tfidf]] path:
    * exact terms cost one vocabulary-keyed shuffle for df (fine — df is
    * the classic map-side-combinable agg), where HashingTF is
    * shuffle-free per row; at 100 TB either works, the hashed form just
    * caps state at numFeatures. */
  def tfidfExactTerms(docs: DataFrame): DataFrame = {
    // NOT Spread: the token explode is light (no hashing) — measured
    // in-bench, the extra exchange+stage costs more than the serial
    // prelude saves (0.4 -> 1.5 s on ext_bm25_topk when both token
    // paths were spread); the heavy md5/gram preludes keep Spread
    val tok = docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val ndocs = docs.agg(count(lit(1)).as("n"))
    tf.join(dfreq, "t")
      .crossJoin(broadcast(ndocs))
      .select(col("doc_id"), col("t"),
        (col("c").cast(DecimalType(9, 0)) *
          graft.Det.fq6(log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + 1, 9))
          .cast(DecimalType(18, 6)).as("w"))
  }

  /** Sum an exact-decimal product column and downcast to scale 6.
    * The DECIMAL(38,12) sum is exact in both engines; the downcast is
    * where rounding modes diverge — Spark's decimal cast rounds
    * HALF_UP while DuckDB's TRUNCATES (VERDICT r6: 126.240606698561 →
    * 126.240607 vs 126.240606), so every oracle consuming this must
    * spell `CAST(ROUND(SUM(x), 6) AS DECIMAL(20,6))` to match
    * (DuckDB's ROUND on decimals is half-away-from-zero = HALF_UP for
    * the non-negative sums here). Single source of truth for the L2 /
    * cosine-numerator aggregates below and in ExtQ/CurateQ. */
  def decimalSum6(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(x).cast(DecimalType(20, 6)).cast("double")

  /** Per-doc L2 norms of [[tfidfExactTerms]] weights: `(doc_id, l2)`.
    * Exact decimal through the scale-6 rounding (see [[decimalSum6]]);
    * the one double op (sqrt) is IEEE-correctly-rounded in both
    * engines, so the output matches the oracle bit-for-bit once the
    * oracle rounds (not truncates) the same downcast. */
  def tfidfExactL2(w: DataFrame): DataFrame =
    w.groupBy("doc_id").agg(sqrt(decimalSum6(col("w") * col("w"))).as("l2"))

  /** DuckDB CTE block producing the oracle-side twin of
    * [[tfidfExactTerms]]: `w(doc_id, t, w)` over tables `documents`.
    * Shared by every oracle pairing that consumes exact-term weights
    * (ext_tfidf_stats, ext_similar_docs) so a rounding/grid fix lands
    * exactly once. Use as `WITH $tfidfExactTermsSql, <more CTEs...>`. */
  val tfidfExactTermsSql: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tok GROUP BY doc_id, t),
      |dfreq AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
      |ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |w AS (
      |  SELECT tf.doc_id, tf.t,
      |         CAST(CAST(tf.c AS DECIMAL(9,0)) *
      |              CAST(FLOOR((ln((n + 1.0) / (df + 1.0)) + 1) * 1e6 + 0.5) / 1e6
      |                AS DECIMAL(9,6))
      |              AS DECIMAL(18,6)) AS w
      |  FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN ndocs)""".stripMargin

  /** BM25 ranked retrieval over the corpus for a fixed query term set —
    * the standard probabilistic relevance scorer (Robertson & Spärck
    * Jones' probabilistic model in the Okapi/Lucene k1-b form; idf =
    * ln(1 + (N - df + 0.5)/(df + 0.5)), always positive). A
    * training-data pipeline uses it for decontamination scoring and
    * query-targeted corpus audits; it is [[similarDocsTopK]]'s
    * query-side sibling (terms, not an exemplar document).
    *
    * Plan shape: token explode → two map-side-combinable aggregates
    * (per-doc length; per-(doc,term) tf RESTRICTED to the query terms
    * before any shuffle, so the heavy branch carries only matching
    * tokens) → broadcast of the tiny df/corpus-stats sides → per-term
    * contributions rounded onto the DECIMAL(9,6)/(18,6) grids (same
    * cross-engine float discipline as [[tfidfExactTerms]]: every
    * double op is IEEE-identical in both engines, every transcendental
    * is grid-quantized before entering exact decimal arithmetic) →
    * exact decimal sum → global top-k (TakeOrderedAndProject: k rows
    * per partition, never a single-partition sort). Linear in corpus
    * tokens at any scale. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k > 0, "bm25TopK needs query terms and k > 0")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"),
      count(lit(1)).as("n"))
    val tf = toks.filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        graft.Det.fq6(
          log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 9))
      .withColumn("c",
        graft.Det.fq6(
          (col("idf").cast("double") * (col("tf").cast("double") * (lit(k1) + lit(1.0)))) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl"))),
          18))
      .groupBy("doc_id")
      .agg(decimalSum6(col("c")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Similar-document retrieval: TF-IDF cosine top-k over the corpus
    * for a DataFrame of query doc_ids. The lexical "more like this"
    * query — near-dup dedup's retrieval-shaped sibling (high cosine on
    * rare terms, not just verbatim overlap).
    *
    * Brute-force form: the (tiny) normalized query side broadcasts,
    * the corpus streams once, and [[graft.functions.TopKByScore]]
    * ships k rows per query per partition — linear in the corpus,
    * never corpus². The sparse dot walks the two sorted index arrays
    * (vectors are ~|doc| non-zeros in a 2^18 space; a dense walk would
    * be 5 orders slower). At 100 TB the same shape runs per shard, or
    * the query side drops into the LSH/IVF front ends like the
    * embedding paths. */
  def similarDocsTopK(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val tf = tfidf(docs)
    val norm = new org.apache.spark.ml.feature.Normalizer()
      .setInputCol("tfidf").setOutputCol("nv").setP(2.0)
    val v = norm.transform(tf).select(col("doc_id"), col("nv"))
    val qside = v
      .join(broadcast(queries.select("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("qid"), col("nv").as("qv"))
    // sparse dot over the intersection of active indices (both sides
    // are unit vectors, so dot == cosine)
    val dot = udf { (a: Vector, b: Vector) =>
      val sa = a.toSparse; val sb = b.toSparse
      var i = 0; var j = 0; var s = 0.0
      val ai = sa.indices; val av = sa.values
      val bi = sb.indices; val bv = sb.values
      while (i < ai.length && j < bi.length) {
        if (ai(i) == bi(j)) { s += av(i) * bv(j); i += 1; j += 1 }
        else if (ai(i) < bi(j)) i += 1
        else j += 1
      }
      s
    }
    broadcast(qside).join(v, col("qid") =!= col("doc_id"))
      .select(col("qid"), col("doc_id").as("cid"),
        dot(col("qv"), col("nv")).as("cos"))
      .groupBy("qid")
      .agg(expr(s"topk_by_score(cos, cid, $k)").as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("cid"), col("t.score").as("cos"))
  }
}
