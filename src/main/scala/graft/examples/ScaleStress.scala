package graft.examples

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Derived fixtures for specs: a source fixture replicated `factor`
  * times, with the SIZE of the workload changed and its SHAPE kept.
  *
  * The fixture is derived, never hand-synthesized semantics: each
  * replica of a document shuffles its tokens (seeded), so every 3-gram
  * shingle changes and replicas are NOT near-dups of the original (the
  * explosion a naive copy would plant in every LSH bucket); each
  * replica of an embedding is an orthogonal transform of it (norm- and
  * distribution-preserving, so random-pair cosine structure matches
  * the base fixture). Ids shift by a per-replica stride. The derived
  * data lives in the caller's output dir; the source fixtures are
  * untouched. `ScaleStressSpec` pins these invariants and runs the
  * approximate operators' recall and convergence checks on the
  * result, including the auto-IVF and IVF-PQ recall gates at 10×
  * sf0.1.
  */
object ScaleStress {

  /** Replicated (l_orderkey, l_suppkey) lineitem projection — replica
    * i shifts orderkey by i·10⁹ and suppkey by i·10⁷, so the supplier
    * co-order graph becomes `factor` DISJOINT copies of the base graph:
    * node/edge counts scale by the factor while the per-order supplier
    * fan-out (the co-order join's expansion suspect) stays exactly the
    * base distribution. Only the two graph-feeding columns are
    * written. */
  private[examples] def buildLineitemFixture(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val fs = new java.io.File(s"$out/_built_li_x$factor")
    if (fs.exists()) return
    val base = spark.read.parquet(s"$src/lineitem.parquet")
    val replicated = (0 until factor).map { i =>
      base.select(
        (col("l_orderkey") + lit(i.toLong * 1000000000L)).as("l_orderkey"),
        (col("l_suppkey") + lit(i.toLong * 10000000L)).as("l_suppkey"))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    fs.createNewFile(): Unit
  }

  /** Rotation + rep-seeded sign flips: orthogonal, so norm and
    * within-replica cosine structure are preserved; distinct reps are
    * decorrelated even when rep ≥ dim (where bare rotation wraps to
    * the identity). */
  private[examples] def mutateEmbedding(e0: Seq[Float], rep: Int): Seq[Float] = {
    val e = e0.toArray // UDF Seq inputs index in linear time — bulk-copy
    val d = e.length
    val r = rep % math.max(d, 1)
    val rnd = new java.util.Random(rep.toLong * 2654435761L)
    val out = new Array[Float](d)
    var j = 0
    while (j < d) {
      val sign = if (rnd.nextBoolean()) 1f else -1f
      out(j) = e((j + r) % d) * sign
      j += 1
    }
    out.toSeq
  }

  def buildFixture(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val fs = new java.io.File(s"$out/_built_x$factor")
    if (fs.exists()) return
    new java.io.File(out).mkdirs()

    // Seeded Fisher-Yates over the token sequence: the token HISTOGRAM
    // (quality/repetition distributions) is preserved exactly, but
    // every 3-gram shingle changes — a cyclic rotation would NOT do
    // (it preserves all interior n-grams: measured Jaccard(base,
    // rotated) ≈ 0.9, i.e. every replica a planted near-dup —
    // ScaleStressSpec asserts the shuffled form stays < 0.5 for 99%).
    val shuffleTokens = udf { (text: String, docId: Long, rep: Int) =>
      val t = text.split("\\s+")
      val r = new java.util.Random(docId * 1315423911L + rep)
      var i = t.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val tmp = t(i); t(i) = t(j); t(j) = tmp
        i -= 1
      }
      t.mkString(" ")
    }
    val docs = Tables.documents(spark, src)
    // stride derived from the source, as for the embeddings below
    val docStride = math.max(1000000000L,
      docs.agg(max("doc_id")).head.getLong(0) + 1L)
    val replicated = (0 until factor).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i.toLong * docStride)).as("doc_id"),
        shuffleTokens(col("text"), col("doc_id"), lit(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    replicated.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // Orthogonal per-replica transform: rotate by (rep mod dim) AND
    // flip a rep-seeded sign pattern. Pure rotation alone degenerates
    // at factor > dim (rotation by dim == identity -> planted EXACT
    // dups from replica 63 up on the 64-dim fixture); the sign flips
    // keep every replica pair decorrelated at any factor while the
    // transform stays orthogonal (norms and within-replica pairwise
    // cosines preserved exactly — same distribution, bigger corpus).
    val mutateVec = udf { (e: Seq[Float], rep: Int) => mutateEmbedding(e, rep) }
    val emb = Tables.embeddings(spark, src)
    // stride derived from the source (ADVICE r9): a fixed 1e9 shift
    // silently aliases replica id ranges once source ids reach 1e9
    // (chained scale-ups), flattening the expected group-count growth
    val embStride = math.max(1000000000L,
      emb.agg(max("vec_id")).head.getLong(0) + 1L)
    val replicatedEmb = (0 until factor).map { i =>
      if (i == 0) emb
      else emb.select(
        (col("vec_id") + lit(i.toLong * embStride)).as("vec_id"),
        mutateVec(col("embedding"), lit(i)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    replicatedEmb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    fs.createNewFile(): Unit
  }
}
