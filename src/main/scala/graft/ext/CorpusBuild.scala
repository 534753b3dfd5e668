package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Checkpoints.CutOps

/** One-call corpus build — the public LLM pretraining-data recipe end
  * to end, each stage one of this library's own operators (every stage
  * is individually oracle- or spec-verified by its registry twin):
  *
  *   1. quality filter (C4-style bounds: token count, TTR) — narrow
  *   2. span-level boilerplate handling ([[Dedup.repeatedSpans]]):
  *      docs mostly boilerplate (coverage ≥ `spanCoverageDrop`) are
  *      DROPPED; the rest get their repeated spans CUT from the text
  *   3. exact dedup on the normalized cut text (min-id canonical) —
  *      one hash shuffle
  *   4. near-dup dedup, LSH-verified
  *      ([[Dedup.lshVerifiedCanonicalDocs]]: banded MinHash →
  *      exact-Jaccard verify → connected components)
  *   5. sequence packing ([[graft.operators.GlobalRank
  *      .withGlobalCumSumBefore]] — scale-safe two-pass prefix sum)
  *
  * Returns the packed corpus plus the per-stage yield report a
  * production build logs on every run. Call
  * [[Caches.releaseAll]] when done (stage boundaries are
  * localCheckpoint'ed — single-lifecycle: consume, release, rebuild);
  * write shards with `graft.io.Sinks.trainingShards(packed, ...)`.
  *
  * Scale posture: no stage introduces a plan shape beyond its
  * registry twin's (audited in SCALE.md); the report costs one count
  * job per stage boundary (5 total), each over an already-computed
  * stage output.
  */
object CorpusBuild {

  final case class Config(
      minTokens: Int = 20,
      maxTokens: Int = 1000,
      minTtr: Double = 0.2,
      spanK: Int = 8,
      spanMinDf: Int = 2,
      spanCoverageDrop: Double = 0.5,
      nearDupThreshold: Double = 0.5,
      seqBudget: Long = 512L)

  /** Stage-by-stage surviving-document counts (the funnel). */
  final case class Report(
      nRaw: Long,
      nQuality: Long,
      nAfterSpanPolicy: Long,
      nExactCanonical: Long,
      nNearDupCanonical: Long)

  /** The five stage descriptions. Every job a build starts runs with
    * one of them as its `spark.job.description`, so Spark's own
    * listeners and UI attribute each job to its stage. */
  val StageDescriptions: IndexedSeq[String] = IndexedSeq(
    "corpus-build 1 quality", "corpus-build 2 span policy",
    "corpus-build 3 exact dedup", "corpus-build 4 near-dup dedup",
    "corpus-build 5 packing")

  private val JobDescription = "spark.job.description"

  /** Runs `f` under stage `n`'s description and restores the previous
    * description afterwards. The job group is left alone. */
  private def inStage[A](docs: DataFrame, n: Int)(f: => A): A = {
    val sc = docs.sparkSession.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, StageDescriptions(n - 1))
    try f finally sc.setLocalProperty(JobDescription, prev)
  }

  /** Runs the full recipe over `docs` (doc_id, text, ... passthrough
    * columns ignored). Output columns: doc_id, clean_text, n_tokens,
    * seq_id, seq_offset, spans_boundary. */
  def run(docs: DataFrame, cfg: Config = Config()): (DataFrame, Report) = {
    val (packed, report) = runStaged(docs, cfg)
    (packed(), report)
  }

  /** The funnel report alone — stages 1-4 run (they are what the
    * report counts), stage 5's packing plan is never constructed
    * (r21, guide §1.2 "don't compute things you throw away"): packing
    * assigns sequence ids but never drops a document, so
    * `n_packed == nNearDupCanonical` by construction (the registry
    * row's own DuckDB oracle encodes exactly this identity —
    * `(SELECT COUNT(*) FROM surv) AS n_packed`; CorpusBuildSpec
    * asserts the packing-preserves-rows invariant on the Spark side).
    * Consumers that need the packed corpus itself call [[run]]. */
  def runReport(docs: DataFrame, cfg: Config = Config()): Report =
    runStaged(docs, cfg)._2

  private def runStaged(docs: DataFrame, cfg: Config)
      : (() => DataFrame, Report) = {
    val toks = split(col("text"), "\\s+")
    val nRaw = inStage(docs, 1)(docs.count())

    // Stage boundaries are localCheckpoint'ed, not cache()'d: each stage
    // is eagerly materialized for the funnel report anyway, and cutting
    // lineage keeps every downstream logical plan O(stage) instead of
    // O(whole pipeline) — with plain cache() the analyzed trees (and
    // AQE's explain rendering) grow multiplicatively across the five
    // stages and Catalyst planning time dominates the run. The tradeoff
    // (truncated lineage can't recompute lost partitions; an executor
    // loss fails the job instead) is the standard one for deep composite
    // pipelines; a cluster deployment would persist stage outputs to
    // storage, which a production corpus build does regardless.
    // releaseAll handles checkpoint-backed frames (Caches.hardUnpersist).

    // 1. quality bounds — narrow per-row flags
    val quality = docs.select(col("doc_id"), col("text"))
      .filter(size(toks).between(cfg.minTokens, cfg.maxTokens)
        && size(array_distinct(toks)).cast("double") / size(toks) >= cfg.minTtr)
    val qualityC = Caches.track(inStage(docs, 1)(quality.cutLineage()))
    val nQuality = inStage(docs, 1)(qualityC.count())

    // 2. span policy: coverage ≥ threshold -> drop doc; else cut spans.
    // spans feeds BOTH the coverage policy and the token anti-join —
    // cache it or the whole gram/df/merge pipeline runs twice.
    val spans = Caches.track(inStage(docs, 2)(
      Dedup.repeatedSpans(qualityC, cfg.spanK, cfg.spanMinDf).cutLineage()))
    val cov = spans.groupBy("doc_id").agg(sum("span_len").as("covered"))
    val keptDocs = qualityC
      .join(cov, Seq("doc_id"), "left")
      .withColumn("n_tok", size(toks))
      .filter(coalesce(col("covered"), lit(0L)).cast("double") / col("n_tok")
        < cfg.spanCoverageDrop)
      .select("doc_id")
    // MAP-ONLY cut (r21, guide §2.4, the doc_span_cut registry twin's
    // rewrite): spans collected per doc (span-sized aggregate) and
    // applied by the compiled TextSpans sweep — the former token
    // posexplode → anti-join → ordered-listagg shape exchanged every
    // corpus token string by doc_id just to re-assemble them. Edge
    // cases preserved by the UDF: a kept doc with EVERY token covered
    // (spanCoverageDrop > 1.0) yields ("", 0) instead of vanishing;
    // a doc with no spans yields its whitespace-normalized text.
    val spanArr = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    val cut = qualityC.join(keptDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), toks.as("arr"))
      .join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.TextSpans.cutSpans(col("arr"), col("sp")).as("c"))
      .select(col("doc_id"), col("c.clean_text").as("text"),
        col("c.n_tokens_kept").as("n_tokens"))
    val cutC = Caches.track(inStage(docs, 2)(cut.cutLineage()))
    val nAfterSpan = inStage(docs, 2)(cutC.count())

    // 3. exact dedup on normalized cut text — min-id canonical survives
    val exactC = Caches.track(
      inStage(docs, 3)(exactDedupCanonical(cutC).cutLineage()))
    val nExact = inStage(docs, 3)(exactC.count())

    // 4. near-dup dedup (LSH candidates -> exact verify -> CC); only
    //    canonical docs survive. The DROP set (CC nodes labeled by
    //    someone else) is near-dup-graph-sized — usually tiny relative
    //    to the corpus, so AQE broadcasts the anti-join — and no
    //    corpus-sized labelAll join runs here at all (r12).
    // knownDocCount = nExact: the stage-3 boundary count just measured
    // this frame — threading it through skips lshVerifiedEdges' own
    // doc-count probe job (r21)
    val drop = inStage(docs, 4)(
      Dedup.lshVerifiedNonCanonical(exactC, cfg.nearDupThreshold,
        knownDocCount = nExact))
    val deduped = Caches.track(inStage(docs, 4)(
      exactC.join(drop, Seq("doc_id"), "left_anti").cutLineage()))
    val nNearDup = inStage(docs, 4)(deduped.count())

    // 5. sequence packing over the survivors — a THUNK: GlobalRank's
    // two-pass prefix sum runs driver-side collect jobs at CONSTRUCTION
    // time, so building the packed frame eagerly would charge report-
    // only callers (runReport) for a stage whose row count they already
    // know (packing never drops a doc)
    val packed = () => inStage(docs, 5)(graft.operators.GlobalRank
      .withGlobalCumSumBefore(
        deduped.select(col("doc_id"), col("text").as("clean_text"), col("n_tokens")),
        Seq(col("doc_id")), col("n_tokens"), "cum0")
      .select(col("doc_id"), col("clean_text"), col("n_tokens"),
        expr(s"cum0 div ${cfg.seqBudget}").cast("long").as("seq_id"),
        pmod(col("cum0"), lit(cfg.seqBudget)).cast("long").as("seq_offset"),
        (pmod(col("cum0"), lit(cfg.seqBudget)) + col("n_tokens") > cfg.seqBudget)
          .as("spans_boundary")))

    (packed, Report(nRaw, nQuality, nAfterSpan, nExact, nNearDup))
  }

  /** Stage 3: exact dedup on normalized text, min-doc_id canonical.
    * ONE min_by aggregate — not min().over(Window.partitionBy("fp")),
    * whose shuffle puts every member of a duplicate group in a single
    * task (the skew-killer when one fingerprint has millions of members,
    * e.g. web boilerplate), and not even groupBy+semi-join, which pays a
    * second shuffle for the join. Partial aggregation collapses each
    * duplicate group to at most one survivor row per map partition
    * before anything shuffles, so a mega dup-group costs its partition
    * count, not its row count. */
  def exactDedupCanonical(docs: DataFrame): DataFrame = {
    val cols = docs.columns.toSeq
    docs
      .groupBy(md5(lower(trim(col("text"))).cast("binary")).as("_fp"))
      .agg(min_by(struct(cols.map(col): _*), col("doc_id")).as("_r"))
      .select(cols.map(c => col(s"_r.$c").as(c)): _*)
  }
}
