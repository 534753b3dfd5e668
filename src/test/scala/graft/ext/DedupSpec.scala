package graft.ext

import graft.{SparkSpec, Tables}

/** Connected-components and canonical-doc checks for the end-to-end
  * dedup pipeline (the query-level oracle is doc_dedup_pipeline's
  * recursive-CTE hash match). */
class DedupSpec extends SparkSpec {

  test("connected components: chain, clique, pair, and multi-sweep convergence") {
    import spark.implicits._
    // a 12-node chain needs ~diameter sweeps — exercises the iteration
    // loop, lineage cut, and early-exit convergence
    val chain = (1L until 12L).map(i => (i, i + 1))
    val clique = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val pair = Seq((30L, 31L))
    val edges = (chain ++ clique ++ pair).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 12L).foreach(n => assert(cc(n) == 1L, s"chain node $n -> ${cc(n)}"))
    (20L to 22L).foreach(n => assert(cc(n) == 20L))
    assert(cc(30L) == 30L && cc(31L) == 30L)
    assert(cc.size == 17)
  }

  test("connected components: releaseAll must not kill the caller's checkpointed edges") {
    import spark.implicits._
    // cc_scale's exact shape: the CALLER localCheckpoints the edge
    // frame, runs CC + releaseAll, then runs CC again on the SAME
    // frame. The r10-r11 hardUnpersist unwrapped Project and freed the
    // caller's checkpoint RDD, so rep 2 failed with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    val edges = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .localCheckpoint()
    (1 to 2).foreach { rep =>
      val comps = Dedup.connectedComponents(edges)
        .select("component").distinct().count()
      assert(comps == 1L, s"rep $rep: $comps components")
      Caches.releaseAll(spark)
    }
  }

  test("connected components: releaseAll must not unpersist the caller's cached edges") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // a caller frame cached with exactly (doc_a, doc_b): CC's input
    // projection resolves to the caller's CacheManager entry, so
    // persisting and tracking it handed the caller's cache to releaseAll
    val edges = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .persist()
    try {
      edges.count()
      assert(edges.storageLevel != StorageLevel.NONE)
      val comps = Dedup.connectedComponents(edges)
        .select("component").distinct().count()
      assert(comps == 1L)
      Caches.releaseAll(spark)
      assert(edges.storageLevel != StorageLevel.NONE,
        "releaseAll unpersisted the caller's cached input")
    } finally edges.unpersist()
  }

  test("connected components: non-convergence at maxIter fails loudly, not partially") {
    import spark.implicits._
    // ADVICE r4 (medium): exceeding maxIter used to return PARTIAL
    // labels silently — must throw. One large-star/small-star round
    // turns a 12-chain into skip-level paths, not yet a star forest
    // (contraction is O(log diameter) rounds, so 1 round cannot finish).
    val chain = (1L until 12L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("doc_a", "doc_b"), maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: large-star/small-star equals brute-force closure on planted graphs") {
    import spark.implicits._
    // planted shapes per VERDICT r10 item 1: long chain (worst case for
    // label propagation), clique (best case), binary tree, two rings,
    // star, isolated pair, self-loop-only node — labels must equal the
    // union-find ground truth computed driver-side
    val rnd = new scala.util.Random(42)
    val chain = (100L until 140L).map(i => (i, i + 1))
    val clique = for (a <- 200L to 215L; b <- (a + 1) to 215L) yield (a, b)
    val tree = (1L until 32L).map(i => (i / 2 max 1, i + 31)) // arbitrary ids
    val ring = (300L until 320L).map(i => (i, if (i == 319L) 300L else i + 1))
    val star = (400L to 430L).map(i => (399L, i))
    val self = Seq((500L, 500L))
    val shuffled = rnd.shuffle(chain ++ clique ++ tree ++ ring ++ star ++ self)
    val edges = shuffled.toDF("doc_a", "doc_b")
    val (ccDf, rounds) = Dedup.connectedComponentsWithRounds(edges)
    val got = ccDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    shuffled.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    // min-label truth per node: min over its root class (snapshot keys —
    // find() path-compresses, mutating the map)
    val byRoot = parent.keys.toVector.groupBy(find)
    val truth = byRoot.flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }
    assert(got == truth, s"CC mismatch: ${(got.toSet diff truth.toSet).take(5)}")
    // O(log diameter): 41-node chain must close in well under diameter rounds
    assert(rounds <= 8, s"expected logarithmic convergence, took $rounds rounds")
  }

  test("connected components: generated graphs with a spilling hub equal union-find") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // random components of random shapes over shuffled ids, plus the
    // edge cases the star rounds must carry: self-loop-only nodes (one
    // of them repeated), a self-loop on a node that also has real
    // edges, duplicate edges in both orientations, a lone single edge,
    // and a hub (the mega-bucket min-star shape) whose run of ~600
    // neighbours is split across spill files, since the rounds' external
    // sorters are forced to spill every 64 records
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1L to 3000L).toVector)
    // ids(0 until 1500) split into components of 2-41 nodes: a random
    // tree each, plus a random chord (a cycle, or a self-loop)
    val comps = Iterator.unfold(0) { lo =>
      Option.when(lo < 1500) { val hi = (lo + 2 + rnd.nextInt(40)) min 1500; ((lo, hi), hi) }
    }.toVector
    def pick(lo: Int, hi: Int) = ids(lo + rnd.nextInt(hi - lo))
    val random = comps.flatMap { case (lo, hi) =>
      (lo + 1 until hi).map(i => (ids(i), pick(lo, i))) :+ (pick(lo, hi), pick(lo, hi))
    }
    val hub = ids(2000)
    val spokes = (2001 until 2600).map(i => if (i % 2 == 0) (hub, ids(i)) else (ids(i), hub))
    val (a, b) = (ids(2700), ids(2701))
    val dupes = Seq((a, b), (b, a), (a, b), (ids(2702), a), (a, ids(2702)))
    val single = Seq((ids(2800), ids(2801)))
    val selfOnly = Seq((ids(2900), ids(2900)), (ids(2901), ids(2901)), (ids(2901), ids(2901)))
    val selfAndReal = Seq((hub, hub), (ids(2702), ids(2702)))
    val all = rnd.shuffle(random ++ spokes ++ dupes ++ single ++ selfOnly ++ selfAndReal)

    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    all.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(rx max ry) = rx min ry
    }
    val truth = parent.keys.toVector.groupBy(find).values
      .flatMap(ns => ns.map(_ -> ns.min)).toMap

    val spilled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) spilled.addAndGet(e.taskMetrics.memoryBytesSpilled)
    }
    val sc = spark.sparkContext
    // a core setting, read by each sorter as it is built (Spillable)
    val forceSpill = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val env = org.apache.spark.SparkEnv.get.conf
    env.set(forceSpill, "64")
    sc.addSparkListener(listener)
    val got = try {
      val labels = Dedup.connectedComponents(all.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      org.apache.spark.ListenerBusDrain(sc)
      labels
    } finally {
      sc.removeSparkListener(listener)
      env.remove(forceSpill)
      Caches.releaseAll(spark)
    }
    assert(spilled.get() > 0, "the rounds' sorts must spill")
    assert(comps.size > 10 && truth.values.toSet.size > 10)
    assert(got.size == truth.size, s"${got.size} labelled nodes, expected ${truth.size}")
    assert(got == truth, s"CC mismatch: ${(got.toSet diff truth.toSet).take(5)}")
  }

  test("bloomNewDocs: no false negatives; FP rate within budget") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf())
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val cands = docs.filter(col("doc_id") % 2 === 1)
    val passed = Dedup.bloomNewDocs(corpus, cands, fpp = 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact truth via anti-join on text
    val trulyNew = cands.join(corpus.select(col("text")), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // bloom guarantee: every passed doc is genuinely new (a duplicate
    // can NEVER pass — mightContain has no false negatives)
    assert(passed.subsetOf(trulyNew),
      s"duplicates passed the filter: ${(passed -- trulyNew).take(5)}")
    // false positives only eat into genuinely-new docs, bounded by fpp
    val fpRate = (trulyNew.size - passed.size).toDouble / math.max(trulyNew.size, 1)
    assert(fpRate <= 0.05, s"FP rate $fpRate exceeds budget")
  }

  test("stratified sample: deterministic under seed, fractions within tolerance") {
    import org.apache.spark.sql.functions._
    val q = graft.SparkEntry.queries("doc_sample_stratified")
    val a = q(spark, sf()).collect().map(_.getLong(0)).toSeq
    val b = q(spark, sf()).collect().map(_.getLong(0)).toSeq
    assert(a == b, "same seed must give identical samples")
    val docs = Tables.documents(spark, sf())
    val total = docs.filter(col("lang") === "en").count()
    val kept = q(spark, sf()).filter(col("lang") === "en").count()
    val frac = kept.toDouble / total
    assert(frac > 0.3 && frac < 0.7, s"en fraction $frac vs target 0.5")
    // non-en strata keep everything at fraction 1.0
    val othTotal = docs.filter(col("lang") =!= "en").count()
    val othKept = q(spark, sf()).filter(col("lang") =!= "en").count()
    assert(othKept == othTotal)
  }

  test("lshVerifiedCanonicalDocs: candidates-then-verify agrees with the exact pipeline on planted dups") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf())
    val lsh = Dedup.lshVerifiedCanonicalDocs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // total function over the corpus; canonical = component min <= doc_id
    assert(lsh.size == docs.count())
    assert(lsh.forall { case (d, c) => c <= d })
    // verification is exact-jaccard (uncapped): any pair both paths
    // consider must agree on being grouped. Exact-path groups whose
    // members ALL share a canonical under LSH confirm recall of the
    // banded scheme on the planted near-dups.
    val exact = Dedup.canonicalDocs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactGroups = exact.groupBy(_._2).values.filter(_.size > 1)
    val missed = exactGroups.filterNot(g => g.keys.map(lsh).toSet.size == 1)
    assert(missed.isEmpty, s"LSH-verified dedup split ${missed.size} exact groups: ${missed.take(2)}")
  }

  test("mega-bucket guard: oversized buckets emit the min-star, groups still dedup whole") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a planted mega duplicate group: 50 copies of one text (ids 100+)
    // plus a small unrelated pair — with maxBucket = 8 the mega group's
    // buckets are oversized (star candidates), the pair's are not
    val mega = (0 until 50).map(i =>
      (100L + i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val pair = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"))
    val other = Seq((3L, "wholly unrelated text with its own tokens only here"))
    val docs = (mega ++ pair ++ other).toDF("doc_id", "text")
    val sig = Dedup.bandSignatures(docs)
    val cand = Dedup.candidatesFromSignatures(sig, maxBucket = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the mega group's candidates are STARS on the bucket min (100):
    // 49 rows, not C(50,2) = 1225
    val megaCand = cand.filter { case (a, b) => a >= 100L || b >= 100L }
    assert(megaCand == (101L to 149L).map(i => (100L, i)).toSet,
      s"expected the 49-row min-star, got ${megaCand.size} rows")
    // the small bucket keeps exact all-pairs
    assert(cand.contains((1L, 2L)))
    // end to end THROUGH THE GUARDED PATH: scaleGuardMinDocs = 1 forces
    // the star cap + partner cap + budgeted exchange on this tiny
    // corpus (the r16 size gate would otherwise run it exact), and the
    // mega group still collapses to ONE canonical
    val canon = Dedup.lshVerifiedCanonicalDocs(docs, scaleGuardMinDocs = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L to 149L).map(canon).toSet == Set(100L),
      "mega group must dedup to its min through star edges")
    assert(canon(1L) == 1L && canon(2L) == 1L && canon(3L) == 3L)
  }

  test("embedding-cosine dedup: LSH path matches exact on planted near-dups AND prunes") {
    import org.apache.spark.sql.functions._
    // the fixture has no embedding near-dups (max offdiag cosine ~0.5),
    // so plant some: 50 vectors get a copy with small deterministic
    // per-coordinate noise (cosine vs original > 0.95)
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    val nBase = emb.count()
    val noisy = udf { (id: Long, e: Seq[Float]) =>
      val r = new java.util.Random(id)
      val scale = 0.05 * math.sqrt(e.map(x => x.toDouble * x).sum / e.length)
      e.map(x => (x + r.nextGaussian() * scale).toFloat)
    }
    val planted = emb.filter(col("vec_id") % 10 === 0).limit(50)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        noisy(col("vec_id"), col("embedding")).as("embedding"))
    val corpus = emb.union(planted)

    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = toMap(Dedup.cosineCanonical(corpus, threshold = 0.9))
    val lsh = toMap(Dedup.cosineCanonicalLsh(corpus, threshold = 0.9))
    // the planted copies must actually collapse in the exact truth
    assert(exact.count { case (v, c) => c != v } >= 40,
      s"planting failed: only ${exact.count { case (v, c) => c != v }} collapsed")
    // precision is exact by construction; deterministic tables give full
    // recall on the planted set, so the canonical maps must be equal
    assert(lsh == exact,
      s"LSH canonical map differs on ${lsh.count { case (k, v) => exact(k) != v }} ids")
    // and it must PRUNE: candidates well under all-pairs
    val n = corpus.count()
    val nCand = Similarity.cosineCandidatePairs(corpus).count()
    val frac = nCand.toDouble / (n * (n - 1) / 2)
    assert(frac < 0.10, f"candidate fraction $frac%.3f — LSH is not pruning")

    // the density knob (SCALE.md "Measured scale curve"): tightening the
    // AND-amplification to 8 projections per table must NOT cost recall
    // in the near-dup regime — 12 OR tables give margin
    val tight = toMap(Dedup.cosineCanonicalLsh(corpus, threshold = 0.9, hashesPerTable = 8))
    assert(tight == exact,
      s"hashesPerTable=8 lost recall on ${tight.count { case (k, v) => exact(k) != v }} ids")
  }

  test("repeatedSpans: planted boilerplate recovered as maximal spans, clean docs untouched") {
    import spark.implicits._
    // a 12-token "license header" planted in two docs at different
    // offsets, plus a clean doc sharing no 8-gram with anyone
    val license = (1 to 12).map(i => s"license$i").mkString(" ")
    val docs = Seq(
      (1L, s"$license alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"one two three four five six seven eight $license"),
      (3L, "unique tokens only nine ten eleven twelve thirteen fourteen fifteen sixteen")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, k = 8, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // overlapping gram hits must merge to ONE maximal span per doc,
    // covering exactly the planted 12 tokens at each doc's offset
    assert(spans == Set((1L, 0L, 11L, 12L), (2L, 8L, 19L, 12L)),
      s"got $spans")
  }

  test("repeatedSpans: disjoint repeats stay separate spans; short docs are safe") {
    import spark.implicits._
    val blockA = (1 to 8).map(i => s"hdr$i").mkString(" ")
    val blockB = (1 to 8).map(i => s"ftr$i").mkString(" ")
    val docs = Seq(
      // doc 1 carries BOTH blocks separated by unique filler -> 2 spans
      (1L, s"$blockA u1 u2 u3 u4 $blockB"),
      (2L, s"$blockA w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, s"v1 v2 v3 v4 v5 v6 v7 v8 $blockB"),
      (4L, "tiny doc") // shorter than k: no grams, must not throw
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, k = 8, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set(
      (1L, 0L, 7L), (1L, 12L, 19L), // two maximal spans, not one merged
      (2L, 0L, 7L), (3L, 8L, 15L)), s"got $spans")
  }

  test("repeatedSpans matches a reference single-machine implementation on random corpora") {
    import spark.implicits._
    // reference implementation: brute-force k-gram df + interval union,
    // straight-line Scala — the distributed plan must agree exactly
    def reference(docs: Seq[(Long, String)], k: Int, minDf: Int): Set[(Long, Long, Long, Long)] = {
      val grams = docs.map { case (id, t) =>
        id -> t.split("\\s+").sliding(k).filter(_.length == k).map(_.mkString(" ")).toVector
      }.toMap
      val df = grams.toSeq.flatMap { case (id, gs) => gs.distinct.map(g => (g, id)) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
      val rep = df.filter(_._2 >= minDf).keySet
      grams.toSeq.flatMap { case (id, gs) =>
        val hits = gs.zipWithIndex.collect { case (g, i) if rep(g) => (i.toLong, i.toLong + k - 1) }
        // interval union (inclusive, adjacency merges)
        val merged = hits.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
          case (acc, (s, e)) if acc.nonEmpty && s <= acc.last._2 + 1 =>
            acc.init :+ (acc.last._1, math.max(acc.last._2, e))
          case (acc, iv) => acc :+ iv
        }
        merged.map { case (s, e) => (id, s, e, e - s + 1) }
      }.toSet
    }
    val rnd = new scala.util.Random(11)
    // small vocab forces accidental cross-doc 8-gram repeats; also plant
    // a block shared by a few docs
    val block = (1 to 10).map(i => s"blk$i").mkString(" ")
    val docs = (1L to 40L).map { id =>
      val body = Seq.fill(30)("w" + rnd.nextInt(12)).mkString(" ")
      val t = if (id % 7 == 0) s"$body $block" else body
      (id, t)
    }
    val expect = reference(docs, k = 8, minDf = 2)
    val got = Dedup.repeatedSpans(docs.toDF("doc_id", "text"), k = 8, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(4)} extra=${(got -- expect).take(4)}")
    assert(expect.nonEmpty)
  }

  test("repeatedSpans dfCap drops ubiquitous grams from spans") {
    import spark.implicits._
    val common = (1 to 8).map(i => s"c$i").mkString(" ") // in ALL 6 docs
    val rare = (1 to 8).map(i => s"r$i").mkString(" ")   // in 2 docs
    val docs = (1L to 6L).map { id =>
      val tail = if (id <= 2) s" $rare" else ""
      (id, s"$common u${id}a u${id}b$tail")
    }.toDF("doc_id", "text")
    // uncapped: both blocks repeat (rare block starts at token 10:
    // 8 common + 2 unique filler)
    val all = Dedup.repeatedSpans(docs, k = 8, minDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.exists(_._2 == 0L) && all.contains((1L, 10L)) && all.contains((2L, 10L)))
    // dfCap 4: the 6-doc common block is no longer 'boilerplate to cut',
    // the 2-doc rare block still is
    val capped = Dedup.repeatedSpans(docs, k = 8, minDf = 2, dfCap = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == Set((1L, 10L, 17L), (2L, 10L, 17L)), s"got $capped")
  }

  test("persisted signature index: parquet round-trip matches in-line recompute") {
    import org.apache.spark.sql.functions.col
    // the daily-ingest deployment shape: signatures written once at
    // corpus build, reloaded for every future batch — results must be
    // identical to recomputing from text/vectors
    val docs = graft.Tables.documents(spark, sf())
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("sig-index").toString

    Dedup.bandSignatures(corpus).write.mode("overwrite").parquet(s"$dir/docsig")
    val reloaded = spark.read.parquet(s"$dir/docsig")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_corpus", "doc_new").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh = key(Dedup.incrementalNearDups(corpus, batch))
    val indexed = key(Dedup.incrementalNearDups(corpus, batch,
      corpusSig = Some(reloaded)))
    assert(indexed == fresh, s"doc index drift: ${indexed.diff(fresh)} / ${fresh.diff(indexed)}")

    // embedding twin: deterministic planes must make persisted buckets
    // bit-stable across sessions/round-trips
    val emb = graft.Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    val ecorpus = emb.filter(col("vec_id") % 2 === 0)
    val ebatch = emb.filter(col("vec_id") % 2 === 1)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    Similarity.cosineBucketIndex(ecorpus, hashesPerTable = 6)
      .write.mode("overwrite").parquet(s"$dir/vecsig")
    val vreloaded = spark.read.parquet(s"$dir/vecsig")
    def vkey(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_corpus", "vec_new").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vfresh = vkey(Dedup.incrementalCosineNearDups(
      ecorpus, ebatch, threshold = 0.3, hashesPerTable = 6))
    val vindexed = vkey(Dedup.incrementalCosineNearDups(
      ecorpus, ebatch, threshold = 0.3, hashesPerTable = 6,
      corpusBuckets = Some(vreloaded)))
    assert(vindexed == vfresh)
    // the width pin is enforced, not just documented
    intercept[IllegalArgumentException] {
      Dedup.incrementalCosineNearDups(ecorpus, ebatch,
        corpusBuckets = Some(vreloaded))
    }
  }

  test("cosineCanonical refuses the O(n²) all-pairs plan above the row ceiling") {
    val emb = graft.Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    // tiny ceiling so the guard trips on the fixture itself
    val e = intercept[IllegalArgumentException] {
      Dedup.cosineCanonical(emb, threshold = 0.9, maxExactRows = 10L)
    }
    assert(e.getMessage.contains("cosineCanonicalLsh"),
      s"guard message should point at the scale path: ${e.getMessage}")
    // the explicit opt-in (the oracle baseline's route) still plans
    assert(Dedup.cosineCanonical(emb, threshold = 0.9,
      allowExactAllPairs = true, maxExactRows = 10L).count() == emb.count())
  }

  test("incremental embedding ingest: planted batch fully matched, decorrelated batch untouched") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    val noisy = udf { (id: Long, e: Seq[Float]) =>
      val r = new java.util.Random(id)
      val scale = 0.05 * math.sqrt(e.map(x => x.toDouble * x).sum / e.length)
      e.map(x => (x + r.nextGaussian() * scale).toFloat)
    }
    val planted = emb.filter(col("vec_id") % 10 === 0).limit(40)
      .select((col("vec_id") + lit(5000000L)).as("vec_id"),
        noisy(col("vec_id"), col("embedding")).as("embedding"))
    val matches = Dedup.incrementalCosineNearDups(emb, planted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every planted vector is found, and is matched to its own origin
    val matchedNew = matches.map(_._2).toSet
    val nPlanted = planted.count()
    assert(matchedNew.size == nPlanted,
      s"recall: matched ${matchedNew.size} of $nPlanted planted batch vectors")
    matches.foreach { case (corpusId, newId, cos) =>
      if (corpusId == newId - 5000000L)
        assert(cos >= 0.9, s"origin match for $newId at cos $cos")
    }
    assert(matches.count { case (c, n, _) => c == n - 5000000L } == nPlanted)

    // a coordinate-rotated batch decorrelates from the corpus: no matches
    val rotated = emb.filter(col("vec_id") % 10 === 0).limit(40)
      .select((col("vec_id") + lit(6000000L)).as("vec_id"),
        concat(slice(col("embedding"), 3, 100000),
          slice(col("embedding"), 1, 2)).as("embedding"))
    assert(Dedup.incrementalCosineNearDups(emb, rotated).count() == 0)
  }

  test("canonicalDocs: every doc mapped; canonical is the component min") {
    val docs = Tables.documents(spark, sf())
    val out = Dedup.canonicalDocs(docs).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0),
        s"canonical ${r.getLong(1)} > doc ${r.getLong(0)}")
      assert(r.getBoolean(2) == (r.getLong(0) == r.getLong(1)))
    }
    // the fixture contains duplicate clusters — some docs must collapse
    assert(out.exists(r => !r.getBoolean(2)))
  }
}
