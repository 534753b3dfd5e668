package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.ext.Checkpoints.CutOps
import graft.functions.GraftFunctions.{cosineSim, topKByScore}

/** End-to-end corpus deduplication (the LLM-pipeline north star): near-dup
  * edges -> connected components -> one canonical document per group.
  *
  * 100 TB posture:
  *  - Edges come from the shingle-key join with document-frequency
  *    pruning (cost Σ per-shingle bucket², never all-pairs) — the same
  *    shape `doc_ngram_jaccard` proves against its oracle; at larger
  *    corpora swap in the banded-MinHash candidates
  *    (`doc_minhash_candidates`) for the same downstream.
  *  - Components by alternating large-star/small-star contraction
  *    (Kiveris et al. 2014): each round is one Spark job of sorted
  *    shuffles over a SHRINKING edge set, converging in O(log² n)
  *    rounds worst-case and 2-4 on near-dup shapes (vs O(diameter) for
  *    label propagation). The rounds are RDD operations, so no round
  *    is planned by Catalyst.
  *  - Canonical = min doc_id per component: deterministic, oracle-
  *    expressible (DuckDB recursive CTE computes the same closure).
  */
object Dedup {

  /** (doc_id, shingle) rows: distinct word 3-gram shingles per doc via
    * the compiled UDF (shared input of every near-dup path here). */
  private[graft] def distinctShingles(docs: DataFrame): DataFrame =
    Spread(docs).select(
      col("doc_id"),
      explode(graft.functions.TextShingles.shingle3(split(col("text"), "\\s+"))).as("shingle"))

  /** Banded-MinHash LSH candidate pairs (doc_a < doc_b). ONE md5 per
    * shingle (60-bit base, sign-safe) + 8 LCG permutations
    * h_s = ((s+1)*h0 + b_s) mod 2^31-1 — a genuine permutation family
    * whose arithmetic stays < 2^35, so a DuckDB oracle reproduces it
    * bit-for-bit (`doc_minhash_candidates` is the hash-verified twin).
    * 4 bands x 2 rows: the band signature is literally two longs, so
    * the self-join key is (band, m0, m1) fixed-width bytes — the shape
    * that carries 100 TB (candidate cost is Σ bucket², never
    * all-pairs). */
  /** (doc_id, band, b0, b1) banded-MinHash signatures — the md5/LCG
    * family of [[minhashCandidates]], shared with the incremental path.
    * PUBLIC because at 100 TB these rows ARE what a near-dup index
    * persists: four 20-byte rows per doc, written once at ingest and
    * re-joined against every future batch via
    * [[incrementalNearDups]]'s `corpusSig` parameter — the corpus text
    * is then only re-read for the docs that actually collide
    * (parquet round-trip equivalence asserted in DedupSpec). */
  def bandSignatures(docs: DataFrame): DataFrame =
    bandSignaturesFrom(distinctShingles(docs))

  /** [[bandSignatures]] from an already-materialized (doc_id, shingle)
    * frame — callers that already hold shingles (SetSimQ's fallback)
    * skip the re-shingle. (lshVerifiedEdges deliberately shingles
    * twice since r15: persisting the string frame to share one pass
    * was the 1000x storage-pinning hazard — see its comment.) */
  private[graft] def bandSignaturesFrom(sh: DataFrame): DataFrame = {
    val p = 2147483647L
    val base = sh.withColumn("h0", expr(
      s"cast(conv(substring(md5(cast(shingle AS binary)), 1, 15), 16, 10) AS bigint) % $p"))
    val bs = (0 until 8).map(s => (s.toLong * 999999937L) % p)
    val mins = (0 until 8).map { s =>
      min(expr(s"(${s + 1} * h0 + ${bs(s)}) % $p")).as(s"m$s")
    }
    base.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .selectExpr("doc_id",
        "stack(4, 0, m0, m1, 1, m2, m3, 2, m4, m5, 3, m6, m7) AS (band, b0, b1)")
  }

  /** Banded-MinHash candidate pairs, EXACT semantics: every pair of
    * docs sharing at least one band signature, no bucket cap — this is
    * the published LSH-candidate contract and what the oracle-paired
    * registry rows (`doc_minhash_candidates`, the est-vs-true row)
    * hash-verify. Callers who must survive web-shaped mega duplicate
    * groups (a g-member bucket costs C(g, 2) pairs here) pass
    * `maxBucket` to opt into the min-star bucket cap documented on
    * [[candidatesFromSignatures]]. There is deliberately NO default
    * (ADVICE r16): `Int.MaxValue` is exact but quadratic per bucket
    * (a 1000-member mega group costs 499,500 pairs), a finite cap is
    * linear but recall-bounded — the caller must make that scale
    * decision visibly rather than inherit either regime silently. */
  def minhashCandidates(docs: DataFrame, maxBucket: Int): DataFrame =
    candidatesFromSignatures(bandSignatures(docs), maxBucket)

  /** Banded candidate pairs with the Σ bucket² mega-bucket guard (r15).
    *
    * A WEB-SHAPED corpus plants mega duplicate groups (boilerplate,
    * templated spam): members share band signatures, so a bucket of g
    * docs contributes C(g, 2) pairs — the 1000x fixture's ~1000-member
    * groups produced a ~200M-row verified edge set whose CC rounds and
    * verify shuffles filled the local disk (caught live by
    * doc_leakage_safe_split; the erMatches fixed-key blocking hazard,
    * recurring one level down at the LSH-bucket granularity).
    *
    * Buckets <= `maxBucket` emit EXACT all-pairs (identical to the
    * pre-r15 behavior — every sf0.01/sf0.1 oracle bucket is <= 4, so
    * the hash-checked rows are pair-identical). An OVERSIZED bucket
    * emits the STAR (bucket-min -> member) instead: candidate count
    * drops from C(g, 2) to g-1 per bucket while dedup CONNECTIVITY is
    * preserved whenever members verify against the bucket min — the
    * mega-group case by construction (they are all near-copies of one
    * another); a borderline member similar to a sibling but not to the
    * min loses that one edge, with 4 bands (4 different mins) as
    * retries. The recall tradeoff is the same bounded one erMatches
    * documents for over-cap blocks, measured in SCALE.md. The default
    * cap of 8 bounds per-doc candidate fan-out at 4 bands x 7 + 4 star
    * links, which in turn bounds the verify join's row mass at
    * ~32 x |shingles| per doc — the knob that kept the 1000x corpus
    * (where ~8% of docs sit in ~1000-member mutual near-dup groups)
    * inside one box's memory and disk. */
  private[graft] def candidatesFromSignatures(
      sig: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    if (maxBucket == Int.MaxValue) {
      // uncapped = exact all band collisions: skip the bucket-stats
      // groupBy + join entirely — it can never bind, and at sub-mega
      // corpus sizes it was a pure bench tax (VERDICT r15 item 3)
      val l = sig.select(col("doc_id").as("doc_a"), col("band"), col("b0"), col("b1"))
      val r = sig.select(col("doc_id").as("doc_b"), col("band").as("band_r"),
        col("b0").as("b0_r"), col("b1").as("b1_r"))
      return l.join(r, col("band") === col("band_r") && col("b0") === col("b0_r")
          && col("b1") === col("b1_r") && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    }
    val stats = sig.groupBy("band", "b0", "b1")
      .agg(count(lit(1)).as("bn"), min("doc_id").as("bmin"))
    val tagged = sig.join(stats, Seq("band", "b0", "b1"))
    val small = tagged.filter(col("bn") <= maxBucket)
    val l = small.select(col("doc_id").as("doc_a"), col("band"), col("b0"), col("b1"))
    val r = small.select(col("doc_id").as("doc_b"), col("band").as("band_r"),
      col("b0").as("b0_r"), col("b1").as("b1_r"))
    val exact = l.join(r, col("band") === col("band_r") && col("b0") === col("b0_r")
        && col("b1") === col("b1_r") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // bmin is the bucket MIN, so bmin < doc_id holds on every emitted
    // row — the (doc_a < doc_b) orientation is preserved
    val star = tagged
      .filter(col("bn") > maxBucket && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
    exact.unionAll(star).distinct()
  }

  /** Incremental near-dup ingest: LSH candidates BETWEEN `batch` and
    * `corpus` only (never within either side — the corpus was already
    * deduplicated when it was ingested), verified by exact Jaccard over
    * each side's full shingle sets, thresholded. Output:
    * (doc_corpus, doc_new, n_common, jaccard).
    *
    * The daily-ingest shape at 100 TB: the corpus side contributes only
    * its (persisted) band signatures and the shingle rows of docs that
    * actually collide — cost scales with |batch| x collision-rate, not
    * |corpus|². Pairs with banded-MinHash recall vs the batch; compose
    * with [[bloomNewDocs]] (exact-dup prefilter) upstream. */
  def incrementalNearDups(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double = 0.5,
      corpusSig: Option[DataFrame] = None): DataFrame = {
    // the persisted-index path: a daily-ingest deployment writes
    // bandSignatures(corpus) once and hands the reloaded rows in here —
    // corpus text is then scanned only for collided docs below.
    // r10 (VERDICT r9 item 6): the r9 "share one PERSISTED shingle
    // frame" change was this row's only carried-over bench regression
    // (0.86 → 1.39 s) — the persist forced a full materialization
    // barrier of the corpus shingle frame where the recompute-per-
    // consumer plan pipelines each pass into its consumer (and the
    // verify-side pass is candidate-pruned). Measured at sf0.1:
    // no-persist 1.52 s vs persist 1.64 s (TimeOne minima), warm-bench
    // 1.29 s vs the r9 1.39 minimum. At index-worthy corpus sizes the
    // corpusSig path is the production route and never shingles
    // un-collided corpus docs at all.
    val shCAll: Option[DataFrame] = if (corpusSig.isEmpty)
      Some(distinctShingles(corpus)) else None
    val shBAll = distinctShingles(batch)
    val sigC = corpusSig.getOrElse(bandSignaturesFrom(shCAll.get))
      .select(col("doc_id").as("doc_corpus"), col("band"), col("b0"), col("b1"))
    val sigB = bandSignaturesFrom(shBAll)
      .select(col("doc_id").as("doc_new"), col("band").as("band_b"),
        col("b0").as("b0_b"), col("b1").as("b1_b"))
    val cand = sigC.join(sigB,
        col("band") === col("band_b") && col("b0") === col("b0_b")
          && col("b1") === col("b1_b"))
      .select("doc_corpus", "doc_new").distinct()
    // exact verify restricted to collided docs: shingles semi-pruned,
    // then the linear candidate-verify join (see lshVerifiedCanonicalDocs).
    // r21 (guide §2.3, VERDICT r20 item 4): the verify side ships 8-byte
    // xxhash64 keys, not the ~25-byte strings — the same narrowing the
    // batch path's big sibling (lshVerifiedEdges) has carried since r15;
    // per-doc row counts are 1:1-map-invariant and intersection counts
    // equal the string counts modulo the standard 2^-64 collision bound.
    val shC = shCAll.getOrElse(distinctShingles(corpus))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .join(cand.select(col("doc_corpus").as("doc_id")), Seq("doc_id"), "left_semi")
    val shB = shBAll
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .join(cand.select(col("doc_new").as("doc_id")), Seq("doc_id"), "left_semi")
    val nC = shC.groupBy("doc_id").agg(count(lit(1)).as("n_c"))
      .select(col("doc_id").as("doc_corpus"), col("n_c"))
    val nB = shB.groupBy("doc_id").agg(count(lit(1)).as("n_b"))
      .select(col("doc_id").as("doc_new"), col("n_b"))
    val inter = cand
      .join(shC.select(col("doc_id").as("doc_corpus"), col("shingle")), "doc_corpus")
      .join(shB.select(col("doc_id").as("doc_new"), col("shingle")), Seq("doc_new", "shingle"))
      .groupBy("doc_corpus", "doc_new")
      .agg(count(lit(1)).as("n_common"))
    inter.join(nC, "doc_corpus").join(nB, "doc_new")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_c") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_corpus", "doc_new", "n_common", "jaccard")
  }

  /** Near-duplicate edges: exact Jaccard over df-capped word 3-gram
    * shingles >= `threshold`. Output: (doc_a, doc_b), doc_a < doc_b.
    *
    * r20 (guide §2.3, "narrower types"): every post-shingle stage keys
    * on the 8-byte xxhash64 of the shingle instead of the ~25-byte
    * string — the r15 lshVerifiedEdges verify-side lesson applied to
    * the exact path. The df aggregate, the df-cap join, the cached
    * per-doc shingle frame and BOTH sides of the self-join shrink to
    * two longs per row, so the three shuffles this operator pays move
    * a third of the bytes. Semantics: df counts and intersection
    * counts over hashed distinct shingles equal the string counts
    * unless two distinct shingles collide in 64 bits (P ≈ n²/2^65 —
    * ~1e-11 at a 30k-shingle fixture vocabulary, the same accepted
    * tradeoff lshVerifiedEdges documents; the oracle hash gate would
    * catch a fixture collision deterministically). */
  def nearDupEdges(docs: DataFrame, threshold: Double = 0.5, dfCap: Int = 20): DataFrame = {
    val sh0 = distinctShingles(docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val sh = sh0
      .join(sh0.groupBy("shingle").agg(count(lit(1)).as("c")).filter(col("c") <= dfCap),
        "shingle")
      .select("doc_id", "shingle")
      .cache()
    Caches.track(sh)
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle").as("shingle_b")),
        col("shingle") === col("shingle_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(n.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .filter(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))
        >= threshold)
      .select("doc_a", "doc_b")
  }

  /** Connected components over undirected edges (doc_a, doc_b) with
    * long or int ids. Returns (node, component) in the ids' type for
    * every node that appears in an edge, self-loops included;
    * component = min id reachable.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014). Each
    * round contracts tall paths toward the local minimum, so
    * convergence takes O(log² n) rounds worst-case and 2-4 on near-dup
    * graph shapes, and the edge set shrinks as paths collapse into
    * stars.
    *
    * The rounds run below Catalyst, as RDD operations on sorted (u, v)
    * long pairs under one partitioner on u ([[StarRounds]]): nothing is
    * planned per round, and each round is one Spark job whose action
    * also counts the new state's open nodes, the convergence test. A
    * node is open iff it has a smaller neighbour and any other one (a
    * star centre with a parent, or a child of two parents). That is
    * exact: E is a fixed point of both operations iff it is a star
    * forest, and edges only ever point to smaller ids, so once no node
    * is open each node's min(self, neighbours) IS its component's
    * minimum. A node seen only in self-loops enters round 1 as its own
    * pair (u, u) and is labelled itself.
    *
    * Each round's state is persisted (MEMORY_AND_DISK) and the previous
    * one freed once it lands. Every `graft.checkpoint.stride`-th round
    * is also cut ([[Checkpoints.cutRdd]]): a reliable `checkpoint` when
    * `graft.checkpoint.dir` is set (the round's second job writes it),
    * a `localCheckpoint` otherwise, so a lost block recomputes at most
    * `stride` rounds. The labels are one flat `LogicalRDD` over the
    * last state, freed by [[Caches.releaseAll]]. Every job the call
    * starts is described `connectedComponents round r/maxIter`, with
    * ` reliable cut` on a round that writes a checkpoint, after the
    * caller's own description when there is one, which is restored on
    * return. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(edges, maxIter)._1

  /** [[connectedComponents]] plus the number of large-star/small-star
    * rounds actually run (DedupSpec and JobCountSpec pin round
    * counts). */
  private[graft] def connectedComponentsWithRounds(
      edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val ids = edges.select(col("doc_a"), col("doc_b"))
    val types = ids.schema.map(_.dataType)
    require(types.forall(Seq(LongType, IntegerType).contains),
      s"connectedComponents needs long or int doc_a/doc_b ids, got ${types.mkString(", ")}")
    val idType = types.maxBy(_.defaultSize)
    val part = new StarRounds.ByFirst(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val stride = Checkpoints.stride(edges)
    val caller = Option(sc.getLocalProperty(JobDescription)).filter(_.nonEmpty)
    var state: RDD[(Long, Long)] = null
    var rounds = 0
    var open = 1L
    var nodes = 0L
    def describe(job: String): Unit =
      sc.setLocalProperty(JobDescription, caller.fold(job)(c => s"$c: $job"))
    try {
      while (open > 0 && rounds < maxIter) {
        rounds += 1
        val job = s"connectedComponents round $rounds/$maxIter"
        describe(job)
        // round 1 reads the input once (under AQE, toRdd runs the
        // input's own exchanges here): each edge in both orientations, a
        // self-loop as its own pair, an edge with a null id dropped
        if (state == null) state = StarRounds.sorted(
          ids.select(col("doc_a").cast(LongType), col("doc_b").cast(LongType))
            .queryExecution.toRdd.mapPartitions(StarRounds.inputPairs), part)
        // one cadence in both modes. Cutting every round in local mode
        // instead (the DataFrame rounds' fork) was no faster on perfbench
        // cc_local, 4 pairs on a 4-vCPU VM: op_ms_p50 312, 247, 254 and
        // 298 ms against 307, 291, 273 and 274 ms for this cadence; it
        // held 0.5 MB less live heap
        val next = StarRounds.round(state, part).persist(StorageLevel.MEMORY_AND_DISK)
        if (rounds % stride == 0 && Checkpoints.cutRdd(spark, next))
          describe(s"$job reliable cut")
        val census = sc.runJob(next, StarRounds.census _)
        state.unpersist(blocking = false)
        state = next
        open = census.map(_._1).sum
        nodes = census.map(_._2).sum
      }
    } finally {
      sc.setLocalProperty(JobDescription, caller.orNull)
      // exiting at maxIter without convergence means PARTIAL labels:
      // free the last round and fail loudly below rather than ship wrong
      // canonical ids
      if (open > 0 && state != null) state.unpersist(blocking = false)
    }
    if (open > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter " +
          "large-star/small-star rounds — component labels would be " +
          "partial/wrong; raise maxIter")
    Caches.track(spark, state)
    val schema = StructType(Seq(
      StructField("node", idType, ids.schema.exists(_.nullable)),
      StructField("component", idType)))
    val labels = StarRounds.labels(state, idType)
    (org.apache.spark.sql.RddFrames.ofRows(spark, schema, labels, nodes), rounds)
  }

  private val JobDescription = "spark.job.description"

  /** SPAN-LEVEL (substring) dedup — the whole-document family's missing
    * sibling (VERDICT r7 item 1): find substrings repeated ACROSS
    * documents (boilerplate, license headers, navigation templates) and
    * emit the per-doc token spans to cut, rather than dropping whole
    * docs. The standard public technique for training corpora (cf.
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — ExactSubstr dedup; re-expressed
    * here in the distributed k-gram form instead of a suffix array,
    * which has no shared-memory analogue on a cluster).
    *
    * Pipeline: token k-grams with offsets (narrow map) → corpus
    * document frequency per gram (ONE map-side-combinable aggregate —
    * no self-join, no bucket² term anywhere) → keep grams appearing in
    * ≥ `minDf` distinct docs → merge each doc's surviving gram
    * intervals [pos, pos+k-1] into maximal spans (two windows + one
    * aggregate, ALL partitioned by doc_id — no cross-doc traffic).
    *
    * Output: (doc_id, span_start, span_end, span_len) — 0-based token
    * offsets, inclusive; overlapping/adjacent gram hits merged. Cutting
    * the spans (or docs whose span coverage exceeds a budget) is the
    * caller's policy decision.
    *
    * 100 TB posture: the df aggregate shuffles (gram, doc-distinct)
    * partials — k-gram keys are high-entropy so the shuffle is
    * uniformly spread; the join back to offset rows is 1:1 per row
    * (the df table has one row per gram — hot grams DON'T fan out);
    * the merge windows hash on doc_id. Three shuffles total,
    * df-independent. Set `dfCap` (> 0) to ALSO drop ubiquitous grams
    * (df > cap) from spans when the goal is cutting only
    * moderate-frequency boilerplate while leaving, e.g., short common
    * idioms alone; 0 = no cap. */
  def repeatedSpans(
      docs: DataFrame,
      k: Int = 8,
      minDf: Int = 2,
      dfCap: Int = 0): DataFrame = {
    require(k >= 2, s"k-gram width must be >= 2, got $k")
    require(minDf >= 2, s"minDf < 2 would mark every doc's own text as repeated")
    val arr = split(col("text"), "\\s+")
    // k-grams with 0-based start offsets (posexplode index = offset);
    // docs shorter than k emit none. k=8 rides the compiled UDF —
    // interpreted HOF lambdas cost ~27 µs/gram and this is the hottest
    // loop of the operator (measured 8.0 s -> ~2 s at sf0.1).
    val gramArr =
      if (k == 8) graft.functions.TextShingles.kgram8(arr)
      else when(size(arr) >= k,
        transform(sequence(lit(0), size(arr) - k),
          i => array_join(slice(arr, i + 1, lit(k)), " ")))
        .otherwise(array().cast("array<string>"))
    // r21 (guide §2.3, the r20 nearDupEdges discipline): the gram key
    // leaves this pipeline as soon as it is exploded — df counting and
    // the semi-join back only need gram IDENTITY, never the text — so
    // both shuffles key on the 8-byte xxhash64 of the ~50-byte k-word
    // string (k=8 grams are the widest string keys in the repo). The
    // span output is positions only, so semantics are unchanged unless
    // two distinct grams collide in 64 bits (P ≈ n²/2^65 — ~1e-11 at
    // fixture vocabulary; a collision could only MERGE two grams' df
    // counts, and the oracle hash gate on the three span rows would
    // catch a fixture hit deterministically).
    val grams = Spread(docs).select(col("doc_id"),
        posexplode(gramArr).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gram"))
    val dfq = grams.groupBy("gram").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf &&
        (if (dfCap > 0) col("df") <= dfCap else lit(true)))
      .select("gram")
    val hits = grams.join(dfq, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + k - 1).cast("long").as("e"))
    // gaps-and-islands interval merge, doc-local: a new span starts when
    // the gram interval no longer overlaps/abuts the furthest end seen
    val wOrd = Window.partitionBy("doc_id").orderBy("s")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("prev_e", max("e").over(wPrev))
      .withColumn("new_span",
        when(col("prev_e").isNull || col("s") > col("prev_e") + 1, 1)
          .otherwise(0))
      .withColumn("span_no", sum("new_span").over(wRun))
      .groupBy("doc_id", "span_no")
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Incremental exact-dedup prefilter: a Bloom membership sketch of the
    * existing corpus' text hashes, probed by candidate docs — only docs
    * whose text is NOT in the corpus pass. The sketch is built
    * distributed (`stat.bloomFilter` aggregates per-partition), is
    * bounded by its bit budget on the driver (MBs for billions of
    * items), and broadcasts to the probe side — no shuffle of either
    * table, the join-free shape incremental ingest needs at 100 TB.
    * Bloom guarantees no false negatives: a duplicate NEVER passes;
    * a small `fpp` fraction of genuinely-new docs is dropped. */
  def bloomNewDocs(corpus: DataFrame, candidates: DataFrame, fpp: Double = 0.01): DataFrame = {
    val hashed = corpus.select(xxhash64(col("text")).as("h"))
    val n = hashed.count()
    // empty corpus: every candidate is new (and Spark's bloomFilter
    // aggregate over zero rows yields a null buffer that NPEs on probe)
    if (n == 0) return candidates
    val bf = hashed.stat.bloomFilter("h", n, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bf)
    val isNew = udf { (h: Long) => !bc.value.mightContainLong(h) }
    candidates.filter(isNew(xxhash64(col("text"))))
  }

  /** Full pipeline over a `documents` table: every doc_id mapped to its
    * canonical representative (min doc_id of its near-dup component;
    * itself if unique). Output: (doc_id, canonical_id, is_canonical). */
  def canonicalDocs(docs: DataFrame, threshold: Double = 0.5, dfCap: Int = 20): DataFrame = {
    val comp = connectedComponents(nearDupEdges(docs, threshold, dfCap))
    labelAll(docs, comp)
  }

  /** The TRUE 100 TB dedup recipe, end to end: banded-MinHash LSH
    * candidates -> exact-Jaccard verification of ONLY those pairs ->
    * connected components -> canonical doc per group.
    *
    * The verification join never touches non-candidate pairs: candidate
    * pairs join to doc_a's shingles, then to doc_b's shingles on
    * (doc_b, shingle) — cost is Σ over candidate pairs of |shingles|,
    * linear in candidate volume (vs the shingle-key join of
    * [[nearDupEdges]], whose hot-bucket cost the df cap must bound).
    * The corpus-side shingle scan is semi-join-pruned to docs that
    * appear in some candidate pair first.
    *
    * Every stage is DuckDB-expressible (md5/LCG hashing + recursive-CTE
    * closure), so the registry twin `doc_lsh_verified_dedup`
    * hash-verifies the whole composition. */
  def lshVerifiedCanonicalDocs(
      docs: DataFrame, threshold: Double = 0.5,
      scaleGuardMinDocs: Long = DefaultScaleGuardMinDocs): DataFrame = {
    val (edges, release) = lshVerifiedEdges(docs, threshold, scaleGuardMinDocs)
    val out = labelAll(docs, connectedComponents(edges))
    release()
    out
  }

  /** The NON-canonical doc ids under [[lshVerifiedCanonicalDocs]]'s
    * semantics — exactly the CC nodes whose label is not themselves.
    * For callers that only DROP near-dups (CorpusBuild stage 4), this
    * skips the corpus-sized labelAll join entirely: the result is
    * near-dup-graph-sized (tiny relative to the corpus), so the
    * caller's anti-join broadcasts. */
  def lshVerifiedNonCanonical(
      docs: DataFrame, threshold: Double = 0.5,
      scaleGuardMinDocs: Long = DefaultScaleGuardMinDocs,
      knownDocCount: Long = -1L): DataFrame = {
    val (edges, release) =
      lshVerifiedEdges(docs, threshold, scaleGuardMinDocs, knownDocCount)
    val out = connectedComponents(edges)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    release()
    out
  }

  /** Verified near-dup edge list shared by the canonical/non-canonical
    * forms: banded-MinHash candidates, exact-Jaccard verify at
    * `threshold` over the candidate docs' shingles. Returns the edges
    * plus a release thunk for the internal persists (call after the
    * downstream CC has materialized — CC's first action is what makes
    * the persists pay). */
  private[graft] def lshVerifiedEdges(
      docs: DataFrame, threshold: Double,
      scaleGuardMinDocs: Long = DefaultScaleGuardMinDocs,
      knownDocCount: Long = -1L): (DataFrame, () => Unit) = {
    // Two scale hazards fixed live at the 1000x fixture (5M docs,
    // ~300M shingle rows — a decade the 100x curves never reached;
    // caught by doc_leakage_safe_split, r15):
    //  1. an in-memory persist of the shingle frame pinned the unified
    //     pool's protected storage fraction until execution memory hit
    //     UNABLE_TO_ACQUIRE -> storage level is SIZE-ADAPTIVE
    //     (DISK_ONLY past 1M docs; the small candidate table stays in
    //     memory);
    //  2. the verify join shuffled ~40-byte shingle STRINGS twice
    //     (~20 GB a side at 5M docs — filled the local disk with SMJ
    //     spills) -> the verify side hashes shingles to 8-byte longs
    //     first (xxhash64), exactly what a production MinHash-verify
    //     ships over the wire. Intersection counts over hashed distinct
    //     shingles equal counts over the strings up to 64-bit
    //     collisions (P ~ 1e-16 per doc at 60 shingles) — far below
    //     any observable effect; the SIGNATURE pipeline still hashes
    //     the strings themselves (its md5/LCG family is the
    //     oracle-reproducible contract).
    // The shingle pass runs twice (signatures + verify) — compiled-UDF
    // shingling is ~2 us/shingle, noise next to the shuffles it feeds;
    // persisting the string frame to avoid the second pass is what
    // caused hazard 1. The doc-count probe is one metadata-cheap
    // parquet count.
    // r16 gate (VERDICT r15 item 3): every robustness guard below —
    // the bucket-stats join inside the star cap, the eager candidate
    // count that sizes the verify exchange, the per-doc partner cap —
    // exists for web-shaped mega duplicate groups, which can only bind
    // past ~1M docs; below the threshold they were a pure sf0.1 bench
    // tax (doc_lsh_verified_dedup 3.72 -> 5.83 s). The doc-count probe
    // is one metadata-cheap parquet count and gates all three at once.
    // Ungated output is a SUPERSET of guarded edges (exact all-pairs
    // candidates, no partner cap) feeding the same exact verify, so
    // small-corpus recall can only be HIGHER; DedupSpec force-enables
    // the guards via a low `scaleGuardMinDocs` to pin their behavior.
    // r21: callers that just materialized+counted `docs` (CorpusBuild's
    // stage boundaries count every stage for the funnel report anyway)
    // pass the count in and skip this probe job entirely.
    val nDocs = if (knownDocCount >= 0) knownDocCount else docs.count()
    val guarded = nDocs >= scaleGuardMinDocs
    val lvl =
      if (nDocs > 1000000L)
        org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cands = candidatesFromSignatures(
      bandSignaturesFrom(distinctShingles(docs)),
      if (guarded) GuardedMaxBucket else Int.MaxValue).persist()
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
    // r16 (VERDICT r15 item 2, second iteration): verify via CO-GROUPED
    // SHINGLE ARRAYS, not exploded (pair, shingle) rows. The r15 shape
    // exchanged |pairs| x |shingles/doc| rows (1.19B rows / ~45 GB of
    // shuffle at the 1000x corpus) into a (doc_a, shingle)-keyed join +
    // (doc_a, doc_b) aggregate; widening its reduce budget for the
    // default 8g/32t config fixed the HEAP but the exchange bytes then
    // overran this box's ~60 GB of shuffle disk (measured live: "No
    // space left on device" with the heap holding). Collapsing each
    // doc's hashed shingles to ONE array row first makes every later
    // exchange PAIRS-sized: cands joins arr(doc_b) then arr(doc_a)
    // (~0.5 KB/row at web-doc shingle counts, ~10 GB total at 1000x vs
    // 45+), and the intersection count is a single array_intersect per
    // pair — no post-join aggregate, no third exchange, nothing to
    // row-budget. Per-key SMJ buffering stays bounded by the same join
    // order as before (doc_b first: <= 4 star + 4x(maxBucket-1) rows
    // per key; the star-hub doc_a side streams, and even a 1000-member
    // hub buffers only ~4k pair rows x ~0.5 KB). Arrays are per-doc
    // DISTINCT hashed shingles, so intersect size == exact common
    // count; array order is irrelevant to size().
    // Guarded arr-build width: the collect_list aggregate over the
    // ~60x|docs| shingle rows otherwise runs its PARTIAL pass at the
    // session's 32 partitions — object-agg falls back to sort-based
    // over ~10M rows/task and its 128 MB page allocations race the
    // DISK_ONLY block PUTs across 32 threads (UNABLE_TO_ACQUIRE at the
    // default 8g/32t, observed twice at 1000x). Pre-partitioning BY
    // doc_id at ~2M shingle rows per task makes the groupBy a single
    // final aggregate over small slices — no partial pass, no big sort.
    val shingled = distinctShingles(docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .join(candDocs, Seq("doc_id"), "left_semi")
    val shWide =
      if (guarded) {
        val defP0 = docs.sparkSession.sessionState.conf.numShufflePartitions
        val p3 = math.max(defP0,
          math.min(32768L, nDocs * 60L / 2000000L + 1L).toInt)
        shingled.repartition(p3, col("doc_id"))
      } else shingled
    val arrs = shWide
      .groupBy("doc_id")
      .agg(collect_list(col("shingle")).as("arr"))
      .persist(lvl)
    // Guarded width budget, now in PAIR rows: each carries a ~0.5 KB
    // shingle array, so ~150k rows/task keeps a reduce task's SMJ sort
    // pages near ~75 MB — 32 concurrent tasks fit the default 8 GB heap
    // with room for the arr build side. (At 32 session partitions the
    // 1000x corpus put ~620k array-rows per task; 32 x ~300 MB of sort
    // pages OOM'd the default config — measured live.)
    val joined1 = cands
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("ab")), "doc_b")
    val exchanged =
      if (guarded) {
        val defP = docs.sparkSession.sessionState.conf.numShufflePartitions
        val nPairs = cands.count()
        // STAGE the arr persist before the verify joins: letting the
        // DISK_ONLY block PUTs race the pair-join's 64 MB sort-page
        // allocations across 32 tasks is what turned a run that fits
        // into a marginal UNABLE_TO_ACQUIRE at the default 8g/32t
        // (observed once at 1000x on a sibling row of the same plan —
        // the identical computation passed solo). One cheap pass; the
        // disk write happens either way.
        arrs.count()
        val p2 = math.max(defP,
          math.min(32768L, nPairs / 150000L + 1L).toInt)
        joined1.repartition(p2, col("doc_a"))
      } else joined1
    val verified = exchanged
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("aa")), "doc_a")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("aa"), col("ab"))).cast("long").as("n_common"),
        size(col("aa")).cast("long").as("na"),
        size(col("ab")).cast("long").as("nb"))
      .filter(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))
        >= threshold)
      .select("doc_a", "doc_b")
    // Third 1000x hazard (same live catch): a web-shaped corpus's TRUE
    // near-dup graph is mega-CLIQUE-shaped — ~250 boilerplate groups of
    // ~1000 members each verified to ~125M edges, and the CC rounds on
    // that graph heap-OOM'd long after the candidate guard had done its
    // job. CC needs CONNECTIVITY, not every edge: keep each doc_b's
    // `MaxPartnersPerDoc` SMALLEST verified partners (bounded-heap
    // aggregate — map-side combinable, never a window). In a verified
    // clique every member keeps its edge toward the group MIN (the
    // smallest partner is always kept), so mega-group membership is
    // EXACT; only a node with > MaxPartnersPerDoc partners in a
    // non-clique chain can lose a link, the bounded-recall tradeoff the
    // bucket star documents. No fixture doc has > 16 verified partners,
    // so every oracle row is edge-identical.
    // NOTE: the "smallest partners" selection scores by
    // cast(-doc_a as double) — doc ids above 2^53 collide in double
    // space, degrading the selection to the id-ASC tiebreak (which
    // also prefers smaller ids, so connectivity is unaffected; the
    // ordering among >2^53 hash-derived ids is what blurs). Fixture
    // ids are far below 2^53; external callers with 64-bit hash ids
    // inherit the tiebreak, documented here (ADVICE r15).
    val edges = if (!guarded) verified
    else {
      verified
        .groupBy(col("doc_b"))
        .agg(topKByScore((-col("doc_a")).cast("double"), col("doc_a"),
          MaxPartnersPerDoc).as("top"))
        .select(col("doc_b"), explode(col("top")).as("t"))
        .select(col("t.id").as("doc_a"), col("doc_b"))
    }
    (edges, () => { cands.unpersist(); arrs.unpersist() })
  }

  /** Verified-partner cap per doc in [[lshVerifiedEdges]] — see the
    * connectivity argument there. 16 keeps every fixture edge and
    * bounds CC input at 16 rows/doc at any corpus scale. */
  private val MaxPartnersPerDoc = 16

  /** Corpus size at which [[lshVerifiedEdges]] turns on its mega-group
    * robustness guards (star-capped candidates, row-budgeted verify
    * exchange, per-doc partner cap). Below this the guards cannot bind
    * on any realistic bucket profile and only cost bench time. */
  private[graft] val DefaultScaleGuardMinDocs = 1000000L

  /** Star-cap bucket size used by the guarded path — see
    * [[candidatesFromSignatures]]. */
  private[graft] val GuardedMaxBucket = 8

  /** Embedding-cosine near-dup dedup, EXACT all-pairs path: edges =
    * pairs with cosine(a, b) >= `threshold`, then connected components,
    * then canonical = min vec_id per group. Output:
    * (vec_id, canonical_id, is_canonical).
    *
    * O(n²) in the corpus — this is the small-corpus / oracle baseline
    * (its DuckDB twin `emb_dedup_exact` hash-verifies the whole
    * composition, cosine folds included); [[cosineCanonicalLsh]] is the
    * 100 TB path over the same semantics.
    *
    * GUARDED (VERDICT r5/r6 item): above `maxExactRows` the all-pairs
    * join is refused loudly unless the caller passes
    * `allowExactAllPairs = true` — nothing should reach an n² plan at
    * scale by default when the LSH twin exists. The ceiling is sized so
    * the guard never fires on oracle-scale fixtures but trips well
    * before the pair count (50k² = 2.5G) could dominate a cluster. */
  def cosineCanonical(
      emb: DataFrame,
      threshold: Double = 0.42,
      allowExactAllPairs: Boolean = false,
      maxExactRows: Long = 50000L): DataFrame = {
    if (!allowExactAllPairs) {
      // limit(max+1).count(), not count(): the guard only needs "over the
      // ceiling or not", so it must not cost a full corpus scan on every
      // guarded call (ADVICE r7) — the limit stops the scan at max+1 rows
      val capped = emb.limit(
        math.min(maxExactRows + 1, Int.MaxValue.toLong).toInt).count()
      require(capped <= maxExactRows,
        s"cosineCanonical is O(n²) all-pairs and the corpus has more than " +
        s"$maxExactRows rows. Use cosineCanonicalLsh (same semantics, " +
        s"Σ bucket² cost) or pass allowExactAllPairs = true to insist.")
    }
    val a = emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb"))
    val edges = a.join(b, col("doc_a") < col("doc_b"))
      .filter(cosineSim(col("ea"), col("eb")) >= threshold)
      .select("doc_a", "doc_b")
    labelAll(emb, connectedComponents(edges), "vec_id")
  }

  /** Embedding-cosine near-dup dedup, LSH-accelerated: candidate pairs
    * from bucketed-random-projection collisions
    * ([[Similarity.cosineCandidatePairs]] — AND-amplified composite
    * bucket keys), scored EXACTLY with the codegen cosine, thresholded,
    * then the same components/canonical labeling as
    * [[cosineCanonical]]. Precision is exact by construction (every
    * kept edge passed the true cosine test); recall is governed by the
    * table count. Candidate cost is Σ bucket² — the shape that carries
    * 100 TB.
    *
    * The default threshold 0.9 is the real near-dup regime — LSH can
    * only prune when the target similarity stands out from the
    * random-pair background (at 64 dims random cosines concentrate in
    * ±~0.4, so thresholds below ~0.7 are information-theoretically
    * un-prunable and belong to [[cosineCanonical]]). */
  def cosineCanonicalLsh(
      emb: DataFrame,
      threshold: Double = 0.9,
      bucketLength: Double = 0.15,
      numTables: Int = 12,
      hashesPerTable: Int = 0,
      corpusCount: Long = 0L): DataFrame = {
    // AND-width ≤0 = auto ∝ log(corpus): bucket occupancy grows with
    // corpus density at fixed width — the measured fix (SCALE.md:
    // m 6→8 at 10x re-tightened growth to ~1.2x, zero recall loss on
    // the planted truth set). One count job, only in auto mode and only
    // when corpusCount wasn't handed in by the caller (ADVICE r7).
    val m = if (hashesPerTable > 0) hashesPerTable
            else graft.ext.Similarity.autoHashesPerTable(
              if (corpusCount > 0) corpusCount else emb.count())
    val cand = graft.ext.Similarity
      .cosineCandidatePairs(emb, bucketLength, numTables, m)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val ea = emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb"))
    val edges = cand.join(ea, "doc_a").join(eb, "doc_b")
      .filter(cosineSim(col("ea"), col("eb")) >= threshold)
      .select("doc_a", "doc_b")
    labelAll(emb, connectedComponents(edges), "vec_id")
  }

  /** Canonical selection by QUALITY: same near-dup closure as
    * [[canonicalDocs]], but the kept document per duplicate group is
    * the argmax of `scoreCol` (tiebreak: min doc_id) instead of the
    * min id — the policy a real corpus build uses (keep the longest /
    * highest-quality member, drop the rest). Output:
    * (doc_id, group_id, score, keep). One extra window over the
    * component key beyond [[canonicalDocs]] — same shuffle count. */
  def canonicalDocsKeepBest(
      docs: DataFrame,
      scoreCol: String = "n_chars",
      threshold: Double = 0.5,
      dfCap: Int = 20): DataFrame = {
    val comp = connectedComponents(nearDupEdges(docs, threshold, dfCap))
    val labeled = docs.select(col("doc_id"), col(scoreCol).as("score"))
      .join(comp.select(col("node").as("doc_id"), col("component")), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("component"), col("doc_id")))
    val w = Window.partitionBy("group_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    labeled
      .withColumn("keep", org.apache.spark.sql.functions.row_number().over(w) === 1)
      .select("doc_id", "group_id", "score", "keep")
  }

  /** Incremental EMBEDDING near-dup ingest — the [[incrementalNearDups]]
    * twin for the vector modality: composite LSH bucket keys
    * ([[Similarity.hashedBuckets]], deterministic planes — both sides
    * hash with the SAME seeded projections) are joined batch-vs-corpus,
    * so candidates arise only BETWEEN the sides; collided pairs are
    * verified with the exact codegen cosine. Output:
    * (vec_corpus, vec_new, cos) for every batch vector whose true
    * cosine against a corpus vector clears `threshold`.
    *
    * 100 TB posture: the corpus' bucket rows (numTables longs per
    * vector) are the persistable index — each arriving batch hashes
    * itself (narrow map) and joins against the index; cost scales with
    * |batch| × collision-rate, never |corpus|². Assumes homogeneous
    * embedding dimensions across both sides (each side's bucket UDF
    * rejects heterogeneous rows; the cross-side verify would surface a
    * mismatch loudly). Default params are the measured recall-1.0
    * near-dup configuration of [[cosineCanonicalLsh]].
    *
    * `corpusBuckets`: the persisted-index path — pass the reloaded
    * (vec_id, tbl, h) rows a prior [[Similarity.hashedBuckets]] wrote
    * (deterministic seed-42 planes make them stable across sessions).
    * The caller MUST then pin ALL THREE hash knobs to the values the
    * index was built with — `hashesPerTable` (enforced: it has no safe
    * default), and `bucketLength`/`numTables` (cannot be enforced here:
    * the bucket rows record neither; a mismatch — e.g. index built at
    * numTables=12, probe at 24 — makes batch keys for tables the index
    * never hashed, silently LOSING recall rather than erroring, ADVICE
    * r7). Persist the three knobs next to the index (the
    * `cosineBucketIndex` scaladoc says the same from the build side). */
  def incrementalCosineNearDups(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double = 0.9,
      bucketLength: Double = 0.15,
      numTables: Int = 12,
      hashesPerTable: Int = 0,
      corpusBuckets: Option[DataFrame] = None,
      corpusCount: Long = 0L): DataFrame = {
    require(corpusBuckets.isEmpty || hashesPerTable > 0,
      "persisted-index calls must pin hashesPerTable to the width the " +
        "index was built with — auto-derivation can diverge as the corpus " +
        "grows. bucketLength and numTables must ALSO match the build " +
        "(unverifiable here: the index rows record neither — a mismatch " +
        "silently loses recall, so persist all three knobs with the index)")
    val empty = corpus.sparkSession.emptyDataFrame
      .select(lit(0L).as("vec_corpus"), lit(0L).as("vec_new"),
        lit(0.0).as("cos")).limit(0)
    // AND-width auto-scales with the CORPUS side (it owns the bucket
    // occupancy); both sides must hash with the same width or no
    // bucket key ever matches. corpusCount skips the auto-mode count
    // job — the daily-ingest loop calls this per batch (ADVICE r7).
    val m = if (hashesPerTable > 0) hashesPerTable
            else Similarity.autoHashesPerTable(
              if (corpusCount > 0) corpusCount else corpus.count())
    (corpusBuckets.orElse(Similarity.hashedBuckets(corpus, bucketLength, numTables, m)),
      Similarity.hashedBuckets(batch, bucketLength, numTables, m)) match {
      case (Some(hc), Some(hb)) =>
        val cand = hc
          .select(col("vec_id").as("vec_corpus"), col("tbl"), col("h"))
          .join(hb.select(col("vec_id").as("vec_new"),
              col("tbl").as("tbl_b"), col("h").as("h_b")),
            col("tbl") === col("tbl_b") && col("h") === col("h_b"))
          .select("vec_corpus", "vec_new").distinct()
        val ec = corpus.select(col("vec_id").as("vec_corpus"), col("embedding").as("ea"))
        val eb = batch.select(col("vec_id").as("vec_new"), col("embedding").as("eb"))
        cand.join(ec, "vec_corpus").join(eb, "vec_new")
          .withColumn("cos", cosineSim(col("ea"), col("eb")))
          .filter(col("cos") >= threshold)
          .select("vec_corpus", "vec_new", "cos")
      case _ => empty
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the unit-normalized embeddings
    * ([[Similarity.assignCells]]), compare pairs ONLY within a cluster
    * with the exact codegen cosine, threshold, connected components,
    * canonical = min vec_id. Output contract identical to
    * [[cosineCanonical]]: (vec_id, canonical_id, is_canonical).
    *
    * Pair cost drops from O(n²) to Σ|cell|² (≈ n²/k for balanced
    * cells); the published trade-off is recall at cell boundaries — a
    * near-dup pair split across Voronoi cells is missed. Raise nCells
    * for cost, lower it for recall. At 100 TB: the centroid fit
    * collects only nCells rows, assignment is a narrow map, and the
    * pair join shuffles on the cell key with nCells bounding bucket
    * count — the same Σ bucket² shape as the LSH paths. */
  def semanticCanonical(
      emb: DataFrame,
      threshold: Double = 0.9,
      nCells: Int = 0,
      corpusCount: Long = 0L): DataFrame = {
    // ≤0 = auto: √n cells (Similarity.autoNCells, r10). For a
    // centroid-bucketed pair join the TOTAL cost is assignment
    // O(n·nCells·d) + pairs O((n²/nCells)·d); √n balances both at
    // O(n^1.5·d) — the single-level optimum (the r9 constant-occupancy
    // law kept pairs linear but made assignment O(n²/125), the VERDICT
    // r9 scale flag). Sub-n^1.5 semantic dedup = the LSH candidate
    // machinery (emb_dedup_lsh / Dedup.embeddingNearDups), which needs
    // no trained centroids. The count job is skipped when the caller
    // hands corpusCount in.
    val k = if (nCells > 0) nCells
            else graft.ext.Similarity.autoNCells(
              if (corpusCount > 0) corpusCount else emb.count())
    val cells = graft.ext.Similarity.assignCells(emb, k)._1
      .select("vec_id", "cell")
    val withCell = emb.select("vec_id", "embedding").join(cells, "vec_id")
    val a = withCell.select(
      col("cell"), col("vec_id").as("doc_a"), col("embedding").as("ea"))
    val b = withCell.select(
      col("cell"), col("vec_id").as("doc_b"), col("embedding").as("eb"))
    val edges = a.join(b, "cell")
      .filter(col("doc_a") < col("doc_b"))
      .filter(cosineSim(col("ea"), col("eb")) >= threshold)
      .select("doc_a", "doc_b")
    labelAll(emb, connectedComponents(edges), "vec_id")
  }

  /** Left-join component labels onto the full id set (unmatched ids
    * are their own canonical). */
  private def labelAll(docs: DataFrame, comp: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol))
      .join(comp.select(col("node").as(idCol), col("component")), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("component"), col(idCol)).as("canonical_id"))
      .withColumn("is_canonical", col("canonical_id") === col(idCol))
}
