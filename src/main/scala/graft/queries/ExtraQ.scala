package graft.queries

import graft.{Det, QueryDef, Tables}
import graft.ext.Multimodal
import org.apache.spark.sql.functions._
import graft.ext.Checkpoints.CutOps
import graft.functions.GraftFunctions.{cosineSim, thetaSketch, topKByScore}

/** Inventory stragglers: rolling-hash fingerprinting, embedding-cosine
  * near-dup pairs, and the multimodal decode/frame-sample plumbing.
  */
object ExtraQ {

  // ---- shared multimodal payload builders (mm_* rows + their rollup
  // twins must decode IDENTICAL payloads; see mm_video_meta_rollup) ----

  /** 0.1 s 16-bit mono sine WAV, frequency keyed on doc_id. */
  private val mkWav = udf { (id: Long) =>
    val rate = 8000; val n = rate / 10
    val freq = 200.0 + (id % 200)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (math.sin(2 * math.Pi * freq * i / rate) * 0.5 * 32767).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic synthesized container: even ids ISO-BMFF MP4, odd
    * ids RIFF/AVI, params keyed on doc_id. */
  private val mkVideo = udf { (id: Long) =>
    if (id % 2 == 0)
      Multimodal.syntheticMp4(
        timescale = 1000, duration = 1000L * (id % 120 + 1),
        width = 320 + 16 * (id % 8).toInt, height = 240 + 16 * (id % 8).toInt,
        codec = if (id % 4 == 0) "avc1" else "hev1")
    else
      Multimodal.syntheticAvi(
        microSecPerFrame = 40000, frames = 25 * (id % 120 + 1).toInt,
        width = 320 + 16 * (id % 8).toInt, height = 240 + 16 * (id % 8).toInt,
        codec = if (id % 4 == 1) "MJPG" else "XVID")
  }

  /** doc_id-filtered (not limit-ed) payload frames for the rollup
    * twins: the filter is deterministic across plans, so the lazy
    * oracle's persisted decode and the query closure's recompute see
    * the SAME doc set by construction. */
  private def wavPayloads(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), mkWav(col("doc_id")).as("payload"))
  private def videoPayloads(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), mkVideo(col("doc_id")).as("payload"))
  private def textPayloads(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Seeded 32x32 8x8-block JPEG (real ImageIO encode — high-contrast
    * blocks so the aHash survives JPEG loss). */
  private def blockJpeg(seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val r = new java.util.Random(seed)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        val v = if (r.nextBoolean()) 0xffffff else 0x000000
        var dy = 0
        while (dy < 4) {
          var dx = 0
          while (dx < 4) { img.setRGB(bx * 4 + dx, by * 4 + dy, v); dx += 1 }
          dy += 1
        }
        bx += 1
      }
      by += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Six-frame MJPEG-in-AVI per doc; every 10th doc gets frame 0
    * REPLAYED at index 3 — the planted duplicate the frame-level
    * near-dup must surface at hamming 0. */
  private val mkMjpegAvi = udf { (id: Long) =>
    val frames = (0 until 6).map(f => blockJpeg(id * 31 + f))
    val planted = if (id % 10 == 0) frames.updated(3, frames(0)) else frames
    Multimodal.syntheticMjpegAvi(planted, microSecPerFrame = 40000,
      width = 32, height = 32)
  }

  private def mjpegPayloads(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id"), mkMjpegAvi(col("doc_id")).as("payload"))

  /** Persist a decode output under target/mm_side/<sf>/ at lazy-oracle
    * generation time, so DuckDB can aggregate the SAME decoded rows the
    * Spark closure recomputes — the decode kernel stays spec-verified
    * (MultimodalSpec), but every DOWNSTREAM aggregate becomes
    * hash-checked (VERDICT r16 item 6). Written once per Verify run;
    * Bench never reads it (the query closures recompute). */
  private def sideTable(df: org.apache.spark.sql.DataFrame,
      d: String, name: String): String = {
    val tag = new java.io.File(d).getName
    val path = s"/root/repo/target/mm_side/$tag/$name"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  val all: Seq[QueryDef] = Seq(
    // Polynomial rolling hash over character codes, mod 1e9+7 at each step
    // so both engines stay in exact BIGINT range (no overflow divergence).
    QueryDef(
      "doc_rolling_hash",
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 1000000007) AS rhash
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        aggregate(
          transform(split(col("text"), ""), c => ascii(c).cast("bigint")),
          lit(0L),
          (h, c) => pmod(h * 31 + c, lit(1000000007L))).as("rhash"))
    },

    // Market-basket pair mining (r14, part 3): top co-purchased part
    // pairs by distinct-order support — the frequent-itemset k=2 pass
    // (the support-counting core of Apriori/FP-growth; higher-k rounds
    // iterate the same join against surviving pairs). The self-join
    // fan-out is bounded by per-order basket size C(b,2), never
    // |parts|²; one distinct, one equi-join, one count, a top-20 total
    // order — all order-keyed shuffles.
    QueryDef(
      "ext_copurchase_pairs",
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM op a JOIN op b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, n_orders FROM pairs
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, d) =>
      val op = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey").distinct()
      op.as("a").join(op.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part_a"),
          col("b.l_partkey").as("part_b"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    },

    // Winnowing fingerprints (r14, part 3 — Schleimer/Wilkerson/Aiken
    // SIGMOD'03, the MOSS algorithm): per document, hash every token
    // 4-gram, slide a 5-gram window over the hash sequence, keep each
    // window's MINIMUM — the guarantee is that any shared substring of
    // >= w+k-1 tokens between two documents shares at least one
    // selected fingerprint, at ~2/(w+1) the storage of full shingling.
    // The partial-overlap detector that n-gram Jaccard (whole-doc) and
    // span dedup (exact runs) sit on either side of. Hashes are
    // md5-derived BIGINTs (the classifier/jl discipline); the window
    // min rides a per-doc ROWS frame — position-keyed, never global.
    QueryDef(
      "doc_winnowing",
      """WITH arrs AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS arr FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(t.i AS BIGINT) AS p,
        |         arr[t.i] || ' ' || arr[t.i+1] || ' ' ||
        |         arr[t.i+2] || ' ' || arr[t.i+3] AS gram
        |  FROM arrs, unnest(range(1, greatest(len(arr) - 3, 1) + 1)) AS t(i)),
        |h AS (
        |  SELECT doc_id, p,
        |         CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS hv
        |  FROM g WHERE gram IS NOT NULL),
        |w AS (
        |  SELECT doc_id, p,
        |         MIN(hv) OVER (PARTITION BY doc_id ORDER BY p
        |                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS fp
        |  FROM h)
        |SELECT DISTINCT doc_id, fp FROM w WHERE p >= 5""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), "\\s+").as("arr"))
        // Docs with < 4 tokens have no 4-gram; the greatest(..., 1) floor
        // below would otherwise index past the array end (ANSI
        // INVALID_ARRAY_INDEX). The oracle drops them via NULL-concat, and
        // the p >= 5 window gate excludes any doc under 8 tokens anyway.
        .filter(size(col("arr")) >= 4)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(1, greatest(size(arr) - 3, 1)),
            |  i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1), ' ',
            |              element_at(arr, i + 2), ' ', element_at(arr, i + 3)))"""
            .stripMargin)).as(Seq("p0", "gram")))
        .filter(col("gram").isNotNull)
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
          conv(substring(md5(col("gram").cast("binary")), 1, 15), 16, 10)
            .cast("long").as("hv"))
      val wf = Window.partitionBy("doc_id").orderBy("p").rowsBetween(-4, 0)
      grams.withColumn("fp", min(col("hv")).over(wf))
        .filter(col("p") >= 5)
        .select("doc_id", "fp").distinct()
    },

    // Embedding-cosine near-dup pairs within a bounded block: the exact
    // variant of embedding-space dedup (the scale path buckets by LSH or
    // coarse quantizer first — see ext/Similarity; this is its oracle).
    QueryDef(
      "emb_cosine_neardup",
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |       list_reduce(list_transform(range(1, len(a.embedding) + 1),
        |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |         / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        |          * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_reduce(list_transform(range(1, len(a.embedding) + 1),
        |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |         / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        |          * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) >= 0.5""".stripMargin) { (s, d) =>
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)
      def nrm(a: org.apache.spark.sql.Column) =
        sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v))
      val v = Tables.embeddings(s, d).filter(col("vec_id") < 50)
      val a = v.select(col("vec_id").as("va"), col("embedding").as("ea"))
      val b = v.select(col("vec_id").as("vb"), col("embedding").as("eb"))
      a.join(b, col("va") < col("vb"))
        .withColumn("cos_sim", dot(col("ea"), col("eb")) / (nrm(col("ea")) * nrm(col("eb"))))
        .filter(col("cos_sim") >= 0.5)
        .select("va", "vb", "cos_sim")
    },

    // BPE-ish token counting: letter-runs, digit-runs, and single other
    // marks — the subword-style tokenizer count alongside whitespace
    // tokens (same regex in both engines).
    QueryDef(
      "doc_bpe_tokens",
      """SELECT doc_id,
        |       CAST(len(string_split_regex(text, '\s+')) AS INT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS bpe_tokens
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).selectExpr(
        "doc_id",
        "size(split(text, '\\\\s+')) AS ws_tokens",
        "size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)) AS bpe_tokens")
    },

    // IVF ANN. r10: LAZY oracle — the probe selection is DETERMINISTIC
    // given the trained coarse centroids (stable sort by squared L2,
    // ties to the lowest cell; centroid means are exact quantized sums
    // since r10), so Verify inlines the centroid matrix and DuckDB
    // reproduces assignment, per-query probe-cell choice, the unit-dot
    // cosine fold and the (cos DESC, cid) top-k bit-for-bit — the
    // recall-vs-brute-force behavior stays asserted in ExtSpec.
    QueryDef.lazyOracle("ext_ivf_topk") { (s, d) =>
      ivfOracleSql(s, d, "WHERE vec_id < 5")
    } { (s, d) =>
      graft.ext.Similarity.ivfTopK(
        Tables.embeddings(s, d), queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, nCells = 0, nProbe = 0) // 0 = auto ∝ corpus count
    },

    // IVF at batch query cardinality — the query set is the ENTIRE
    // corpus as a DataFrame (semi-joined, plan size independent of |Q|);
    // like ext_ann_topk_batch it rides ONE broadcast join on cell and
    // the corpus is scanned once regardless of |Q|. Knobs are AUTO
    // (VERDICT r5/r6 task 4): nCells/nProbe derive from the corpus
    // count — the measured constant-cell-occupancy fix that cut the
    // 10x batch 15.2 s → 4.32 s at recall@10 0.95 (SCALE.md).
    // r10: same lazy oracle as ext_ivf_topk, query set = whole corpus.
    QueryDef.lazyOracle("ext_ivf_topk_batch") { (s, d) =>
      ivfOracleSql(s, d, "")
    } { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ext.Similarity.ivfTopK(emb, queries = emb.select("vec_id"), k = 10)
    },

    // Deterministic MODE: most-frequent value per group with an explicit
    // smallest-value tiebreak (both engines' built-in mode() leaves ties
    // implementation-defined, so the portable form is count + window —
    // same cost shape as the built-in: one partial-aggregated groupBy
    // plus a per-group top-1).
    QueryDef(
      "agg_mode_deterministic",
      """WITH f AS (
        |  SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |r AS (
        |  SELECT l_returnflag, l_quantity, c,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                            ORDER BY c DESC, l_quantity) AS rn
        |  FROM f)
        |SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count
        |FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      val f = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy(col("c").desc, col("l_quantity"))
      f.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("c").as("mode_count"))
    },

    // EXACT percentiles (linear interpolation): Spark percentile() ==
    // DuckDB quantile_cont, rounded to 6 digits (the interpolation
    // arithmetic is not guaranteed ULP-identical). Exact percentile
    // buffers each group's values — the small-group/audit tool;
    // approx_percentile (already covered) is the 100 TB path.
    QueryDef(
      "agg_percentile_exact",
      """SELECT l_returnflag,
        |       CAST(FLOOR(quantile_cont(l_quantity, 0.5) * 1e6 + 0.5) AS BIGINT) AS p50_u6,
        |       CAST(FLOOR(quantile_cont(l_quantity, 0.9) * 1e6 + 0.5) AS BIGINT) AS p90_u6,
        |       CAST(FLOOR(quantile_cont(l_extendedprice, 0.99) * 1e6 + 0.5) AS BIGINT) AS price_p99_u6
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        Det.u6(expr("percentile(l_quantity, 0.5)")).as("p50_u6"),
        Det.u6(expr("percentile(l_quantity, 0.9)")).as("p90_u6"),
        Det.u6(expr("percentile(l_extendedprice, 0.99)")).as("price_p99_u6"))
    },

    // Exact distinct counting via the Spark 4 bitmap function family:
    // bucketed bitmaps (bitmap_bucket_number / bitmap_bit_position /
    // bitmap_construct_agg) OR-folded per group. Unlike COUNT(DISTINCT)
    // — whose expand/shuffle carries every raw value — both levels are
    // map-side-combinable aggs over fixed-width 4 KB bitmap buffers, the
    // shape that survives a 100 TB high-cardinality scan. The result is
    // EXACT (bitmaps, not sketches), so it hash-matches the oracle's
    // COUNT(DISTINCT) directly — no error-contract REQUIRE needed.
    QueryDef(
      "agg_bitmap_distinct",
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part
        |FROM lineitem WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
        |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_suppkey").isNotNull && col("l_partkey").isNotNull)
      def bitmapDistinct(key: String, out: String) =
        li.groupBy(col("l_returnflag"),
            bitmap_bucket_number(col(key)).as("bkt"))
          .agg(bitmap_construct_agg(bitmap_bit_position(col(key))).as("bm"))
          .groupBy("l_returnflag")
          .agg(sum(bitmap_count(col("bm"))).cast("long").as(out))
      bitmapDistinct("l_suppkey", "n_supp")
        .join(bitmapDistinct("l_partkey", "n_part"), Seq("l_returnflag"))
    },

    // HyperLogLog SKETCH aggregate (Apache DataSketches, Spark 4
    // built-in): unlike approx_count_distinct, the sketch itself is a
    // first-class mergeable value — partial sketches union across
    // partitions/groups/days without rescanning, the property that
    // matters at 100 TB (e.g. daily distinct-user sketches folding into
    // rolling windows). Oracle-anchored since r9 (the count_min_twin /
    // bloom_exact_twin pattern): the sketch estimate itself is
    // implementation-defined, so the query REQUIREs the HLL error
    // contract against the exact distinct per group IN the same run
    // (lgConfigK=12 → ~1.6% relative standard error; 5% is > 3 sigma)
    // and emits the EXACT counts, which the DuckDB oracle hash-verifies.
    // Union-consistency of partial sketches stays in PipelineSpec.
    QueryDef(
      "agg_hll_sketch",
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_nd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      // localCheckpoint materializes the 3-row grouped frame ONCE: the
      // require-gate collect below and the returned plan both read the
      // checkpointed rows instead of re-running the full-scan aggregate.
      val both = Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(
          expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey))").as("approx_nd"),
          count_distinct(col("l_orderkey")).as("exact_nd"))
        .cutLineage()
      both.collect().foreach { r =>
        val est = r.getAs[Number]("approx_nd").doubleValue()
        val exact = r.getAs[Long]("exact_nd").toDouble
        require(math.abs(est - exact) <= 0.05 * exact,
          s"hll_sketch estimate out of bound for ${r.get(0)}: est=$est exact=$exact")
      }
      both.select(col("l_returnflag"), col("exact_nd"))
    },

    // approx_percentile twin (r9): the QUANTILE sketch (KLL-style
    // bounded-memory rank estimation — the 100 TB path where exact
    // percentile's per-group value buffer cannot fit). Same anchoring
    // pattern as agg_hll_sketch: the approx value is implementation-
    // defined, so the query REQUIREs the rank-error contract in-run —
    // at accuracy 10000 the estimate's rank error is <= 1/10000, so the
    // estimate must land inside the exact [q-0.01, q+0.01] quantile
    // value band (100x slack) — and emits the EXACT interpolated
    // percentiles, which the oracle hash-verifies on the round-6 grid.
    QueryDef(
      "agg_approx_pctl_twin",
      """SELECT l_returnflag,
        |       CAST(FLOOR(quantile_cont(l_extendedprice, 0.50) * 1e6 + 0.5) AS BIGINT) AS p50_u6,
        |       CAST(FLOOR(quantile_cont(l_extendedprice, 0.95) * 1e6 + 0.5) AS BIGINT) AS p95_u6
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      // ONE buffering exact-percentile aggregate (array form) and ONE
      // approx sketch pass — not 8 separate value-buffering aggs
      val both = Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, array(0.49D, 0.5D, 0.51D, 0.94D, 0.95D, 0.96D))").as("ex"),
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)").as("ap"))
        .select(col("l_returnflag"),
          Det.u6(col("ex").getItem(1)).as("p50_u6"),
          Det.u6(col("ex").getItem(4)).as("p95_u6"),
          col("ap").getItem(0).as("a50"), col("ap").getItem(1).as("a95"),
          col("ex").getItem(0).as("lo50"), col("ex").getItem(2).as("hi50"),
          col("ex").getItem(3).as("lo95"), col("ex").getItem(5).as("hi95"))
        .cutLineage() // materialize once — gate + result share it
      both.collect().foreach { r =>
        def d(c: String) = r.getAs[Number](c).doubleValue()
        require(d("a50") >= d("lo50") && d("a50") <= d("hi50"),
          s"approx p50 out of rank band for ${r.get(0)}: ${d("a50")} not in [${d("lo50")}, ${d("hi50")}]")
        require(d("a95") >= d("lo95") && d("a95") <= d("hi95"),
          s"approx p95 out of rank band for ${r.get(0)}: ${d("a95")} not in [${d("lo95")}, ${d("hi95")}]")
      }
      both.select(col("l_returnflag"), col("p50_u6"), col("p95_u6"))
    },

    // Count–min sketch (r9): the mergeable FREQUENCY sketch — bounded-
    // memory per-key counts that union across partitions/shards/days,
    // the heavy-hitter/count companion to the HLL distinct sketch and
    // approx_top_k above (completes the sketch family). Same anchoring
    // pattern as doc_bloom_exact_twin: the sketch bit layout is
    // implementation-defined so the sketch itself can't be oracled, but
    // the EXACT per-key counts it approximates can — the query emits
    // those (oracle-paired) and REQUIREs the CMS contract against them
    // in the same run: estimate is never below the true count, and is
    // within eps·N above it (deterministic here: fixed seed). The
    // sketch is built by ONE map-side-combinable aggregate over the
    // table; the probe loop runs over the 25-key exact result, bounded.
    QueryDef(
      "agg_count_min_twin",
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |FROM customer GROUP BY c_nationkey""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
      val exact = cust.groupBy("c_nationkey")
        .agg(count(lit(1)).cast("long").as("exact_cnt"))
      val bytes = cust
        .agg(expr("count_min_sketch(CAST(c_nationkey AS BIGINT), 0.001d, 0.99d, 42)"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      val exactRows = exact.collect()
        .map(r => (r.getAs[Number]("c_nationkey").longValue(), r.getAs[Long]("exact_cnt")))
      val totalN = exactRows.map(_._2).sum
      val slack = math.ceil(0.001 * totalN).toLong
      exactRows.foreach { case (k, n) =>
        val est = cms.estimateCount(k)
        require(est >= n && est <= n + slack,
          s"count_min_sketch violated its bound for key $k: est=$est exact=$n eps*N=$slack")
      }
      exact.orderBy("c_nationkey")
    },

    // Theta-sketch SET-OPERATION cardinality (r9): the one sketch
    // capability the HLL family lacks — INTERSECTION. "How many
    // customers placed both an URGENT and a HIGH order" without ever
    // co-shuffling the raw key sets: each side is ONE bounded
    // (<=2^lgK entries) map-side-combinable theta sketch
    // (functions/ThetaSketchAgg, a TypedImperativeAggregate like
    // topk_by_score), both built in a single pass via null-skipping
    // conditional update; the intersection runs on two compact byte
    // arrays. Anchored the count_min_twin way: the EXACT overlap is
    // oracle-paired (one groupBy(custkey) flag pass — also a single
    // shuffle), and the sketch estimates REQUIRE their error bounds
    // against it in the same query (retained sets are deterministic,
    // theta drifts with merge order — bounded, never hash-compared).
    QueryDef(
      "agg_theta_intersect_twin",
      """WITH per AS (
        |  SELECT o_custkey,
        |         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS ha,
        |         MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS hb
        |  FROM orders GROUP BY o_custkey)
        |SELECT CAST(COUNT(CASE WHEN ha = 1 THEN 1 END) AS BIGINT) AS exact_a,
        |       CAST(COUNT(CASE WHEN hb = 1 THEN 1 END) AS BIGINT) AS exact_b,
        |       CAST(COUNT(CASE WHEN ha = 1 AND hb = 1 THEN 1 END) AS BIGINT) AS exact_common
        |FROM per""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val sk = orders.agg(
        thetaSketch(when(col("o_orderpriority") === "1-URGENT", col("o_custkey")), 12).as("ska"),
        thetaSketch(when(col("o_orderpriority") === "2-HIGH", col("o_custkey")), 12).as("skb"))
        .head()
      val (ska, skb) = (sk.getAs[Array[Byte]]("ska"), sk.getAs[Array[Byte]]("skb"))
      val exact = orders.groupBy("o_custkey").agg(
        max(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("ha"),
        max(when(col("o_orderpriority") === "2-HIGH", 1).otherwise(0)).as("hb"))
        .agg(
          count(when(col("ha") === 1, 1)).as("exact_a"),
          count(when(col("hb") === 1, 1)).as("exact_b"),
          count(when(col("ha") === 1 && col("hb") === 1, 1)).as("exact_common"))
      val r = exact.head()
      import graft.functions.ThetaOps
      def check(name: String, est: Double, ex: Long, relTol: Double): Unit =
        require(math.abs(est - ex) <= math.max(relTol * ex, 10.0),
          s"theta $name estimate out of bound: est=$est exact=$ex")
      check("A", ThetaOps.estimate(ska), r.getAs[Long]("exact_a"), 0.05)
      check("B", ThetaOps.estimate(skb), r.getAs[Long]("exact_b"), 0.05)
      check("A∩B", ThetaOps.intersectEstimate(ska, skb),
        r.getAs[Long]("exact_common"), 0.10)
      exact
    },

    // Bitwise aggregates (bit_and/bit_or/bit_xor) — flag-mask rollups
    // (permission masks, feature flags) per group. Map-side combinable
    // like any semigroup aggregate; both engines implement the same
    // two's-complement semantics.
    QueryDef(
      "agg_bitwise",
      """SELECT l_returnflag,
        |       CAST(bit_and(l_linenumber) AS BIGINT) AS b_and,
        |       CAST(bit_or(l_linenumber) AS BIGINT) AS b_or,
        |       CAST(bit_xor(l_linenumber) AS BIGINT) AS b_xor
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        expr("bit_and(l_linenumber)").cast("bigint").as("b_and"),
        expr("bit_or(l_linenumber)").cast("bigint").as("b_or"),
        expr("bit_xor(l_linenumber)").cast("bigint").as("b_xor"))
    },

    // str_to_map: delimited key:value string -> map (config/provenance
    // string parsing). JSON-encoded output; the oracle builds the same
    // object independently from the source columns.
    QueryDef(
      "fn_str_to_map",
      """SELECT doc_id,
        |       CAST(to_json(struct_pack(src := source, lng := lang)) AS VARCHAR) AS kv
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        to_json(str_to_map(
          concat(lit("src:"), col("source"), lit(",lng:"), col("lang")),
          lit(","), lit(":"))).as("kv"))
    },

    // Ordered string aggregation — Spark 4.1's ANSI listagg(... ORDER
    // BY) vs DuckDB's string_agg(... ORDER BY): a deterministic
    // within-group concatenation (report/export shape). Cost is one
    // two-phase agg; the per-group string is bounded by group
    // cardinality (here: nations per region), never data-scale.
    QueryDef(
      "agg_listagg",
      """SELECT r_name,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin) { (s, d) =>
      Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
          .as("nations"))
    },

    // Heavy hitters via the DataSketches frequent-items aggregate
    // (Spark 4.1 approx_top_k): mergeable, bounded-memory top-k — the
    // sketch the 100 TB "most common values" report uses instead of a
    // full groupBy histogram. Oracle-anchored since r9 (count_min_twin
    // pattern): the sketch layout is implementation-defined, so the
    // query REQUIREs the heavy-hitter contract IN the run — every
    // sketch-returned item's TRUE count is >= the 5th-largest true
    // count (top-k modulo ties), and its reported count equals the
    // true count (maxItemsTracked default 10000 >= the distinct types
    // here, where the sketch is provably exact) — and emits the exact
    // deterministic top-5, which the DuckDB oracle hash-verifies.
    QueryDef(
      "agg_approx_top_k",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events GROUP BY event_type
        |ORDER BY cnt DESC, event_type LIMIT 5""".stripMargin) { (s, d) =>
      val exact = Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
      val trueCnt = exact.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val kth = trueCnt.values.toSeq.sorted(Ordering[Long].reverse)
        .take(5).lastOption.getOrElse(0L)
      val sketch = Tables.events(s, d)
        .agg(expr("approx_top_k(event_type, 5)").as("top5"))
        .head().getSeq[org.apache.spark.sql.Row](0)
      sketch.foreach { r =>
        val (item, est) = (r.getString(0), r.getLong(1))
        require(trueCnt(item) >= kth,
          s"approx_top_k returned non-heavy item $item (true=${trueCnt(item)}, kth=$kth)")
        require(est == trueCnt(item),
          s"approx_top_k count off for $item: est=$est true=${trueCnt(item)}")
      }
      exact.orderBy(col("cnt").desc, col("event_type")).limit(5)
    },

    // Pivot: wide conditional aggregation. Spark's groupBy().pivot() with
    // explicit values (no extra distinct-values job — the form a
    // production pipeline uses); the oracle is the equivalent
    // CASE-WHEN aggregation, decimal-exact.
    QueryDef(
      "agg_pivot",
      """SELECT l_linestatus,
        |       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
        |       CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
        |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"))
    },

    // Unpivot (melt): wide -> long. Spark's Dataset.unpivot; the oracle
    // is the equivalent UNION ALL.
    QueryDef(
      "set_unpivot",
      """SELECT o_orderkey, 'o_totalprice' AS metric, CAST(o_totalprice AS DOUBLE) AS value
        |FROM orders WHERE o_orderkey < 2000
        |UNION ALL
        |SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE)
        |FROM orders WHERE o_orderkey < 2000""".stripMargin) { (s, d) =>
      Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double"),
          col("o_custkey").cast("double"))
        .unpivot(Array(col("o_orderkey")), "metric", "value")
    },

    // Edit distance — the character-level near-dup scorer (complements
    // the token-level jaccard family). Codegen'd built-in on both sides.
    QueryDef(
      "fn_levenshtein",
      """SELECT p_partkey,
        |       CAST(levenshtein(substring(p_name, 1, 12), substring(p_type, 1, 12)) AS INT) AS name_type_dist,
        |       CAST(levenshtein(p_brand, 'Brand#00') AS INT) AS brand_dist
        |FROM part WHERE p_partkey < 1000""".stripMargin) { (s, d) =>
      Tables.part(s, d).filter(col("p_partkey") < 1000).select(
        col("p_partkey"),
        levenshtein(substring(col("p_name"), 1, 12), substring(col("p_type"), 1, 12)).as("name_type_dist"),
        levenshtein(col("p_brand"), lit("Brand#00")).as("brand_dist"))
    },

    // Skew-salted JOIN demonstration (SCALE.md): the hot (fact) side
    // salts its key; the dim side replicates once per salt, so one hot
    // suppkey spreads over 8 reducers. The oracle is the UNsalted join —
    // salting is provably result-identical.
    QueryDef(
      "join_salted",
      """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name,
        |       CAST(l.l_quantity AS DOUBLE) AS qty
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE l.l_orderkey < 5000""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") < 5000)
        .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(8)))
      val sup = Tables.supplier(s, d)
        .withColumn("salt", explode(sequence(lit(0), lit(7))))
      li.join(sup, li("l_suppkey") === sup("s_suppkey") && li("salt") === sup("salt"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("s_name"), col("l_quantity").cast("double").as("qty"))
    },

    // Skew-salting demonstration (SCALE.md): pre-aggregate on (key, salt)
    // so one hot key spreads over 8 reducers, then combine partials. The
    // oracle is the UNsalted aggregation — decimal partials are exact, so
    // salting is provably result-identical.
    QueryDef(
      "agg_salted_twophase",
      """SELECT l_suppkey,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_suppkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val partial = Tables.lineitem(s, d)
        .withColumn("salt", pmod(hash(col("l_orderkey")), lit(8)))
        .groupBy("l_suppkey", "salt")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("psum"),
          count(lit(1)).as("pn"))
      partial.groupBy("l_suppkey")
        .agg(sum("psum").cast("double").as("sum_qty"),
          sum("pn").as("n"))
    },

    // The native codegen cosine expression (graft.functions.CosineSimilarity)
    // on the same brute-force top-k shape as emb_cosine_topk: identical
    // sequential double fold -> identical oracle, one fused loop instead of
    // ~192 interpreted lambda calls per row.
    QueryDef(
      "emb_cosine_topk_native",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
        |p AS (
        |  SELECT qid, cid,
        |         list_reduce(list_transform(range(1, len(qe) + 1),
        |             i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)), (a, b) -> a + b)
        |           / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |            * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cos_sim
        |  FROM q, c WHERE qid <> cid)
        |SELECT qid, cid, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT qid, cid, cos_sim,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
        |  FROM p) WHERE rn <= 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))
      broadcast(q).join(c, col("qid") =!= col("cid"))
        .withColumn("cos_sim", cosineSim(col("qe"), col("ce")))
        .select(col("qid"), col("cid"), col("cos_sim"),
          row_number().over(w).cast("bigint").as("rn"))
        .filter(col("rn") <= 10)
    },

    // Top-k per group via the custom TypedImperativeAggregate (bounded
    // heap, partial+final — shuffle carries k rows per partition instead
    // of every candidate; see functions/TopKByScore.scala). Same oracle
    // as the window form: identical ranking and tiebreak.
    QueryDef(
      "emb_cosine_topk_agg",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
        |p AS (
        |  SELECT qid, cid,
        |         list_reduce(list_transform(range(1, len(qe) + 1),
        |             i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)), (a, b) -> a + b)
        |           / (sqrt(list_reduce(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |            * sqrt(list_reduce(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cos_sim
        |  FROM q, c WHERE qid <> cid)
        |SELECT qid, cid, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT qid, cid, cos_sim,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
        |  FROM p) WHERE rn <= 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      broadcast(q).join(c, col("qid") =!= col("cid"))
        .withColumn("cos_sim", cosineSim(col("qe"), col("ce")))
        .groupBy("qid")
        .agg(topKByScore(col("cos_sim"), col("cid"), 10).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("cid"), col("t.score").as("cos_sim"),
          (col("pos") + 1).cast("bigint").as("rn"))
    },

    // Multimodal decode through the per-partition batch path. The stub
    // decoder is deterministic, so rows-only here + exactness in MmSpec.
    QueryDef.noOracle("mm_decode_features") { (s, d) =>
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.decodeImages(payloads).toDF().orderBy("doc_id")
    },

    QueryDef.noOracle("mm_frame_sample") { (s, d) =>
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(payloads, frameSize = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"), length(col("frame_bytes")).as("frame_len"))
        .orderBy("doc_id", "frame_idx")
    },

    // Audio feature extraction (r7, real decode): each doc gets a
    // deterministic synthesized WAV (0.1 s sine, frequency keyed on
    // doc_id — the fixture ships no audio payloads), decoded
    // DISTRIBUTED through javax.sound to rate/duration/RMS/ZCR. The
    // WAV bytes are built per-partition (narrow map, never collected);
    // real-audio physics (RMS = amp/sqrt(2), ZCR = 2f/rate) is
    // asserted against constructed signals in MultimodalSpec.
    QueryDef.noOracle("mm_audio_features") { (s, d) =>
      val payloads = Tables.documents(s, d).limit(200)
        .select(col("doc_id"), mkWav(col("doc_id")).as("payload"))
      Multimodal.decodeAudio(payloads).toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          round(col("rms"), 4).as("rms"),
          round(col("zero_crossing_rate"), 4).as("zcr"))
        .orderBy("doc_id")
    },

    // Video container metadata (r8, VERDICT item 3): each doc gets a
    // deterministic synthesized container — even ids a minimal ISO-BMFF
    // MP4, odd ids a RIFF/AVI header, params keyed on doc_id (the
    // fixture ships no video payloads; the JDK has no encoder, so the
    // box/chunk builders in Multimodal construct them byte-for-byte) —
    // parsed DISTRIBUTED through the pure-JDK box walk to declared
    // duration/dims/codec. No oracle (binary container layout has no
    // DuckDB twin); round-trip exactness (built params == parsed
    // params, both container families, v1 mvhd, truncation safety) is
    // asserted in MultimodalSpec.
    QueryDef.noOracle("mm_video_meta") { (s, d) =>
      val payloads = Tables.documents(s, d).limit(200)
        .select(col("doc_id"), mkVideo(col("doc_id")).as("payload"))
      Multimodal.decodeVideoMeta(payloads).toDF()
        .select(col("doc_id"), col("container"),
          round(col("duration_sec"), 3).as("duration_sec"),
          col("width"), col("height"), col("codec"))
        .orderBy("doc_id")
    },

    // Image near-dup over REAL decoded PNGs (r8, VERDICT item 2: the r7
    // form fed text bytes, so the gated row only ever exercised the
    // StubDecoder fallback). Every doc now gets a deterministic 16×16
    // PNG (8×8 random block pattern seeded on doc_id — the fixture
    // ships no images, same synthesis discipline as mm_audio_features'
    // WAVs), encoded AND decoded distributed through javax.imageio.
    // Near-dups are PLANTED (ids +10^7): the same pattern with one
    // pixel nudged ±16 luma — far below the 0/255 cell contrast, so
    // the aHash is unchanged and the pair must surface at hamming 0.
    // The width==16 filter is the real-decoder gate: StubDecoder's
    // hash-derived dims are always >= 64, so if ImageIO ever stopped
    // parsing these payloads the row would go EMPTY, not quietly pass
    // stub hashes through the banded join. (Random 64-bit patterns are
    // the banded join's worst case — no structure to bucket on — but
    // candidate volume is still n²/32 band collisions, fine at bench
    // scale and pessimistic vs real image corpora.)
    QueryDef.noOracle("mm_phash_neardups") { (s, d) =>
      import org.apache.spark.sql.functions.udf
      val mkPng = udf { (id: Long, perturb: Boolean) =>
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val r = new java.util.Random(id)
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 8) {
            val v = if (r.nextBoolean()) 0xffffff else 0x000000
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) { img.setRGB(bx * 2 + dx, by * 2 + dy, v); dx += 1 }
              dy += 1
            }
            bx += 1
          }
          by += 1
        }
        if (perturb) {
          val cur = img.getRGB(0, 0) & 0xff
          val n = if (cur > 127) cur - 16 else cur + 16
          img.setRGB(0, 0, (n << 16) | (n << 8) | n)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val ids = Tables.documents(s, d).select("doc_id")
      val all = ids.select(col("doc_id"), col("doc_id").as("pattern_id"),
          lit(false).as("perturb"))
        .union(ids.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            col("doc_id").as("pattern_id"), lit(true).as("perturb")))
      val payloads = all.select(col("doc_id"),
        mkPng(col("pattern_id"), col("perturb")).as("payload"))
      val feats = Multimodal.decodeImages(payloads).toDF()
      Multimodal.phashNearDups(
          feats.filter(col("width") === 16 && col("height") === 16)
            .select("doc_id", "phash"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- downstream-twin rollups (r17, VERDICT r16 item 6): the five
    // mm decode rows are structurally no-oracle (DuckDB cannot decode
    // WAV/PNG/ISO-BMFF), but everything DOWNSTREAM of the decode is
    // plain relational — so each rollup persists its decode output once
    // per Verify run (sideTable) and lets DuckDB aggregate the SAME
    // rows the Spark closure recomputes. The decode kernel stays
    // spec-pinned (MultimodalSpec); the aggregation arithmetic, type
    // bridges and group semantics become hash-checked. All sums are
    // exact-integer (u-grid quantized doubles / native ints), so the
    // compare is bit-for-bit. ----

    // REAL video frame decode (r17, VERDICT r16 item 5): MJPEG-in-AVI is
    // the one codec the JDK can decode (its frames are plain JPEGs).
    // Synthesized 6-frame containers (the MultimodalSpec
    // synthesize-then-parse discipline), decoded DISTRIBUTED through
    // the RIFF movi walk + ImageIO; every 10th doc carries a planted
    // duplicate frame that must collapse to an identical aHash. The
    // decode kernel is spec-pinned (MultimodalSpec: round-trip, planted
    // dup at hamming 0, truncation fuzz); the rollup twin below
    // hash-checks everything downstream.
    QueryDef.noOracle("mm_frame_decode") { (s, d) =>
      Multimodal.decodeMjpegFrames(mjpegPayloads(s, d)).toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"),
          col("height"), col("phash"))
        .orderBy("doc_id", "frame_idx")
    },

    QueryDef.lazyOracle("mm_frame_decode_rollup") { (s, d) =>
      val path = sideTable(
        Multimodal.decodeMjpegFrames(mjpegPayloads(s, d)).toDF(),
        d, "frame_decode")
      s"""SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_frames,
         |       CAST(COUNT(DISTINCT phash) AS BIGINT) AS n_distinct_hash,
         |       CAST(MIN(width) AS BIGINT) AS min_w,
         |       CAST(MAX(height) AS BIGINT) AS max_h,
         |       CAST(SUM(CAST(FLOOR(mean_luma * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS luma_u6_sum
         |FROM '$path/*.parquet'
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    } { (s, d) =>
      Multimodal.decodeMjpegFrames(mjpegPayloads(s, d)).toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          countDistinct(col("phash")).as("n_distinct_hash"),
          min("width").cast("bigint").as("min_w"),
          max("height").cast("bigint").as("max_h"),
          sum(floor(col("mean_luma") * lit(1e6) + lit(0.5)).cast("long"))
            .as("luma_u6_sum"))
        .orderBy("doc_id")
    },

    QueryDef.lazyOracle("mm_video_meta_rollup") { (s, d) =>
      val path = sideTable(
        Multimodal.decodeVideoMeta(videoPayloads(s, d)).toDF(), d, "video_meta")
      s"""SELECT container, codec,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(MIN(width) AS BIGINT) AS min_w,
         |       CAST(MAX(width) AS BIGINT) AS max_w,
         |       CAST(SUM(CAST(FLOOR(duration_sec * 1e3 + 0.5) AS BIGINT)) AS BIGINT) AS dur_ms_sum
         |FROM '$path/*.parquet'
         |GROUP BY container, codec
         |ORDER BY container, codec""".stripMargin
    } { (s, d) =>
      Multimodal.decodeVideoMeta(videoPayloads(s, d)).toDF()
        .groupBy("container", "codec")
        .agg(count(lit(1)).as("n"),
          min("width").cast("bigint").as("min_w"),
          max("width").cast("bigint").as("max_w"),
          sum(floor(col("duration_sec") * lit(1e3) + lit(0.5)).cast("long"))
            .as("dur_ms_sum"))
        .orderBy("container", "codec")
    },

    QueryDef.lazyOracle("mm_audio_features_rollup") { (s, d) =>
      val path = sideTable(
        Multimodal.decodeAudio(wavPayloads(s, d)).toDF(), d, "audio_features")
      s"""SELECT doc_id % 8 AS b,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(n_samples) AS BIGINT) AS samples_sum,
         |       CAST(SUM(CAST(FLOOR(rms * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS rms_u6_sum,
         |       CAST(SUM(CAST(FLOOR(zero_crossing_rate * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS zcr_u6_sum
         |FROM '$path/*.parquet'
         |GROUP BY doc_id % 8
         |ORDER BY b""".stripMargin
    } { (s, d) =>
      Multimodal.decodeAudio(wavPayloads(s, d)).toDF()
        .groupBy((col("doc_id") % 8).as("b"))
        .agg(count(lit(1)).as("n"),
          sum("n_samples").as("samples_sum"),
          sum(floor(col("rms") * lit(1e6) + lit(0.5)).cast("long"))
            .as("rms_u6_sum"),
          sum(floor(col("zero_crossing_rate") * lit(1e6) + lit(0.5)).cast("long"))
            .as("zcr_u6_sum"))
        .orderBy("b")
    },

    QueryDef.lazyOracle("mm_decode_features_rollup") { (s, d) =>
      val path = sideTable(
        Multimodal.decodeImages(textPayloads(s, d)).toDF(), d, "decode_features")
      s"""SELECT CAST(FLOOR(width / 128) AS BIGINT) AS wb,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(n_bytes) AS BIGINT) AS bytes_sum,
         |       CAST(SUM(CAST(FLOOR(mean_luma * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS luma_u6_sum,
         |       CAST(MIN(phash) AS BIGINT) AS phash_min
         |FROM '$path/*.parquet'
         |GROUP BY CAST(FLOOR(width / 128) AS BIGINT)
         |ORDER BY wb""".stripMargin
    } { (s, d) =>
      Multimodal.decodeImages(textPayloads(s, d)).toDF()
        .groupBy(floor(col("width") / lit(128)).cast("bigint").as("wb"))
        .agg(count(lit(1)).as("n"),
          sum("n_bytes").as("bytes_sum"),
          sum(floor(col("mean_luma") * lit(1e6) + lit(0.5)).cast("long"))
            .as("luma_u6_sum"),
          min("phash").as("phash_min"))
        .orderBy("wb")
    },

    QueryDef.lazyOracle("mm_frame_sample_rollup") { (s, d) =>
      val path = sideTable(
        Multimodal.sampleFrames(textPayloads(s, d), frameSize = 64, stride = 2)
          .select(col("doc_id"), col("frame_idx"),
            length(col("frame_bytes")).as("frame_len")), d, "frame_sample")
      s"""SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_frames,
         |       CAST(MAX(frame_idx) AS BIGINT) AS max_idx,
         |       CAST(SUM(frame_len) AS BIGINT) AS len_sum
         |FROM '$path/*.parquet'
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    } { (s, d) =>
      Multimodal.sampleFrames(textPayloads(s, d), frameSize = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          max("frame_idx").cast("bigint").as("max_idx"),
          sum("frame_len").as("len_sum"))
        .orderBy("doc_id")
    },

    // Equi-width histogram (data profiling): data-driven [min, max]
    // bounds, 20 buckets, top bucket closed. Bounds ride a broadcast
    // cross join (1-row frame — no driver collect); bucketing is a
    // map-only floor; counts/sums are one map-side-combinable agg. The
    // bucket expression is pointwise IEEE so both engines bin
    // identically; sums on the decimal grid (Det.dsum2 discipline).
    QueryDef(
      "agg_histogram_equi",
      """WITH b AS (SELECT o_totalprice AS x FROM orders),
        |bounds AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM b),
        |bk AS (SELECT LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / CAST(20 AS DOUBLE))) AS BIGINT), 19) AS bucket, x
        |       FROM b, bounds)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sum_x
        |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      import graft.Det
      val b = Tables.orders(s, d).select(col("o_totalprice").as("x"))
      val bounds = b.agg(min("x").as("lo"), max("x").as("hi"))
      b.crossJoin(broadcast(bounds))
        .select(least(
            floor((col("x") - col("lo")) /
              ((col("hi") - col("lo")) / lit(20.0))).cast("bigint"),
            lit(19L)).as("bucket"), col("x"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), Det.dsum2(col("x")).as("sum_x"))
        .orderBy("bucket")
    },

    // 2-D Pareto skyline (r15): parts no other part dominates on
    // (minimize p_retailprice, maximize p_size) — the multi-objective
    // shortlist query (cheapest-per-capability frontier). The ORACLE is
    // the O(n^2) NOT EXISTS dominance definition; the Spark side is the
    // distributed sweep (operators/Skyline.pareto2d, property-tested
    // against the brute-force definition on random frontiers):
    // bucket by integer dollar (price-monotone, so
    // every lower bucket is strictly cheaper), compute the per-bucket
    // max-size table (TINY: cardinality = price domain in dollars,
    // independent of row count) and its strictly-lower-bucket running
    // max, then decide each row with bucket-LOCAL windows only — a row
    // survives iff it has the max size at its exact price, beats every
    // strictly-cheaper price in its bucket, and beats the carried
    // lower-bucket max. The only non-keyed window rides the tiny bucket
    // aggregate (GlobalRank boundary discipline); everything row-scaled
    // shuffles on (bucket) or (bucket, price). Equal (price, size) ties
    // are mutually non-dominating and both survive — both algorithms
    // agree by construction.
    QueryDef(
      "ext_skyline",
      """SELECT p_partkey, p_retailprice, p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      graft.operators.Skyline
        .pareto2d(Tables.part(s, d), "p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    }
  )

  /** Shared IVF lazy-oracle SQL (ext_ivf_topk / ext_ivf_topk_batch):
    * refits the deterministic coarse quantizer (Similarity.assignCells —
    * quantized-exact centroid means since r10) with the SAME auto knobs
    * the query run derives, inlines the centroid matrix, and reproduces
    * probe-cell choice + unit-dot cosine top-k in DuckDB. `qFilter`
    * restricts the query side ("" = whole corpus). */
  private def ivfOracleSql(
      s: org.apache.spark.sql.SparkSession, d: String,
      qFilter: String): String = {
    val emb = Tables.embeddings(s, d)
    val cells = graft.ext.Similarity.autoNCells(emb.count())
    val probes = graft.ext.Similarity.autoNProbe(cells)
    val (_, centroids) = graft.ext.Similarity.assignCells(emb, cells)
    s"""WITH ${VecOracle.assignCtes(centroids)},
       |q AS (SELECT vec_id AS qid, u AS qu FROM nv $qFilter),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, cent.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |             ${VecOracle.sqL2("qu", "cent.cv")},
       |             cent.cell) AS rn
       |    FROM q CROSS JOIN cent)
       |  WHERE rn <= $probes),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS cid,
       |         ${VecOracle.dot("q.qu", "a.u")} AS cos
       |  FROM probe p JOIN asg a USING (cell) JOIN q ON q.qid = p.qid
       |  WHERE a.vec_id <> p.qid)
       |SELECT qid, cid, cos FROM (
       |  SELECT qid, cid, cos,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, cid) AS rn
       |  FROM cand)
       |WHERE rn <= 10""".stripMargin
  }
}
