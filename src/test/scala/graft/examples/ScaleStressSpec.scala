package graft.examples

import graft.SparkSpec
import graft.ext.{Caches, Embeddings, Graph, Similarity}
import graft.queries.SetSimQ
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Invariants of the derived scale fixture (SCALE.md "Measured scale
  * curve"): replication must change the workload's SIZE without
  * changing its SHAPE — same token/vector distributions, and no
  * artificial near-dup mass planted in any LSH bucket. The last three
  * tests run the approximate operators' own checks (BRP recall, no
  * false positives from the set-similarity fallback, k-core peel
  * convergence) on the same fixture. */
class ScaleStressSpec extends SparkSpec {

  private lazy val out = {
    val dir = java.nio.file.Files.createTempDirectory("sfx-test").toString
    ScaleStress.buildFixture(spark, sf("sf0.001"), dir, 2)
    dir
  }

  test("replication multiplies row counts and keeps ids disjoint") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val base = graft.Tables.documents(spark, sf("sf0.001"))
    assert(docs.count() == 2 * base.count())
    assert(docs.select("doc_id").distinct().count() == docs.count())
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    assert(emb.count() == 2 * graft.Tables.embeddings(spark, sf("sf0.001")).count())
    assert(emb.select("vec_id").distinct().count() == emb.count())
  }

  test("token shuffle preserves the per-doc token histogram") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val hist = docs.select(col("doc_id"),
        to_json(map_from_entries(sort_array(map_entries(
          aggregate(split(col("text"), "\\s+"), map().cast("map<string,int>"),
            (acc, t) => map_concat(
              map_filter(acc, (k, _) => k =!= t),
              map(t, coalesce(element_at(acc, t), lit(0)) + 1))))))).as("h"))
    val base = hist.filter(col("doc_id") < 1000000000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rep = hist.filter(col("doc_id") >= 1000000000L)
      .collect().map(r => r.getLong(0) - 1000000000L -> r.getString(1)).toMap
    assert(rep.nonEmpty && rep.keySet == base.keySet)
    rep.foreach { case (id, h) =>
      assert(h == base(id), s"histogram changed for doc $id")
    }
  }

  test("embedding replica transform: orthogonal (norm-exact) and decorrelated at ANY rep") {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val base = graft.Tables.embeddings(spark, sf("sf0.001"))
      .select("embedding").limit(20)
      .collect().map(_.getSeq[Float](0))
    // reps below AND above the 64-dim wrap point: bare rotation would
    // be the identity at rep = 64 (the factor>63 planted-dup bug)
    for (rep <- Seq(1, 5, 63, 64, 70, 99); e <- base) {
      val m = ScaleStress.mutateEmbedding(e, rep)
      val n0 = math.sqrt(e.map(x => x.toDouble * x).sum)
      val n1 = math.sqrt(m.map(x => x.toDouble * x).sum)
      assert(math.abs(n0 - n1) < 1e-9, s"norm drift at rep $rep")
      assert(math.abs(cos(e, m)) < 0.6, s"rep $rep correlated: cos=${cos(e, m)}")
    }
    // distinct reps sharing a rotation (64 apart) must ALSO be decorrelated
    for (e <- base) {
      val a = ScaleStress.mutateEmbedding(e, 6)
      val b = ScaleStress.mutateEmbedding(e, 70)
      assert(math.abs(cos(a, b)) < 0.6, s"reps 6/70 correlated: ${cos(a, b)}")
    }
  }

  test("replicas are NOT shingle near-dups of their originals") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val sh = docs.select(col("doc_id"),
        array_distinct(graft.functions.TextShingles.shingle3(
          split(col("text"), "\\s+"))).as("sh"))
    val base = sh.filter(col("doc_id") < 1000000000L)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val rep = sh.filter(col("doc_id") >= 1000000000L)
      .collect().map(r => r.getLong(0) - 1000000000L -> r.getSeq[String](1).toSet).toMap
    // Jaccard(base, rotated replica) must sit FAR below the 0.5 near-dup
    // threshold for nearly all docs — rotation by 2 shifts every 3-gram
    val jac = rep.toSeq.map { case (id, s) =>
      val b = base(id); s.intersect(b).size.toDouble / s.union(b).size
    }
    val high = jac.count(_ >= 0.5)
    assert(high <= jac.size / 100,
      s"$high of ${jac.size} replicas are near-dups of their originals")
    assert(jac.sum / jac.size < 0.3, f"mean replica jaccard ${jac.sum / jac.size}%.2f")
  }

  test("auto-knob BRP keeps recall@10 >= 0.95 against brute force") {
    // The auto-IVF (>= 0.95) and IVF-PQ (>= 0.9) recall gates hold from
    // 10x sf0.1 up, so their test below builds that fixture: on these
    // 1000 vectors auto-IVF measures 0.70 and IVF-PQ 0.84.
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val all = emb.select("vec_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (r.getLong(0), v.map(_ / math.sqrt(v.map(x => x * x).sum)))
      }
    val truth = all.sortBy(_._1).take(50).flatMap { case (q, qv) =>
      all.filter(_._1 != q)
        .map { case (id, v) => (id, qv.indices.map(i => qv(i) * v(i)).sum) }
        .sortBy(p => (-p._2, p._1)).take(10).map(p => (q, p._1))
    }.toSet
    val qids = emb.select("vec_id").orderBy("vec_id").limit(50)
    val got = Similarity.annTopK(emb, queries = qids, k = 10,
        bucketLength = Similarity.autoBucketLength(all.length.toLong),
        numTables = 8, maxDistance = 2.0)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ext.Caches.releaseAll(spark)
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.95, f"auto-BRP recall@10 $recall%.3f")
  }

  test("set-similarity LSH fallback emits no false positives") {
    val sh = spark.read.parquet(s"$out/documents.parquet")
      .select(col("doc_id"), explode(graft.functions.TextShingles.shingle3(
        split(col("text"), "\\s+"))).as("shingle"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(SetSimQ.setSimJoinExact(sh, 4, 5,
      maxCandidatePairs = Long.MaxValue))
    val fb = pairs(SetSimQ.setSimJoin(sh, 4, 5, maxCandidatePairs = 0L))
    spark.catalog.clearCache(); graft.ext.Caches.releaseAll(spark)
    assert(truth.nonEmpty)
    assert(fb.subsetOf(truth), s"false positives: ${fb.diff(truth)}")
  }

  test("k-core peel on the replicated co-order kNN graph converges by 8 rounds") {
    ScaleStress.buildLineitemFixture(spark, sf("sf0.001"), out, 2)
    val li = spark.read.parquet(s"$out/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_suppkey") =!= col("y.l_suppkey"))
      .groupBy(col("x.l_suppkey").as("u"), col("y.l_suppkey").as("v"))
      .agg(count(lit(1)).as("c"))
    val und = co
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("c").desc, col("v"))))
      .filter(col("rn") <= 3)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    def coreness(rounds: Int): Map[Long, Int] =
      Graph.corenessCapped(und, 4, rounds)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val c16 = coreness(16)
    graft.ext.Caches.releaseAll(spark)
    val c8 = coreness(8)
    graft.ext.Caches.releaseAll(spark)
    assert(c16.values.exists(_ > 1), "the kNN graph has a non-trivial core")
    assert(c8 == c16, "k-core peel not converged by 8 rounds")
  }

  test("auto-IVF keeps recall@10 >= 0.95 and IVF-PQ >= 0.9 on 10x sf0.1") {
    val dir = java.nio.file.Files.createTempDirectory("sfx10-test").toFile
    try {
      ScaleStress.buildFixture(spark, sf("sf0.1"), dir.toString, 10)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val all = emb.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      // exact top-10 of the first 50 ids by `score`, higher is closer
      def exactTop10(score: (Array[Double], Array[Double]) => Double) =
        all.sortBy(_._1).take(50).flatMap { case (q, qv) =>
          all.filter(_._1 != q).map { case (id, v) => (id, score(qv, v)) }
            .sortBy(p => (-p._2, p._1)).take(10).map(p => (q, p._1))
        }.toSet
      def dot(a: Array[Double], b: Array[Double]) =
        a.indices.map(i => a(i) * b(i)).sum
      val cosine = (a: Array[Double], b: Array[Double]) =>
        dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
      val negL2 = (a: Array[Double], b: Array[Double]) =>
        -a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
      val qids = emb.select("vec_id").orderBy("vec_id").limit(50)
      def recall(got: DataFrame, truth: Set[(Long, Long)]): Double = {
        val p = got.select("qid", "cid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.catalog.clearCache(); Caches.releaseAll(spark)
        (p & truth).size.toDouble / truth.size
      }
      val ivf = recall(Similarity.ivfTopK(emb, queries = qids, k = 10),
        exactTop10(cosine))
      val pq = recall(Embeddings.ivfPqTopK(emb, qids, k = 10),
        exactTop10(negL2))
      info(f"${all.length} vectors: auto-IVF recall@10 $ivf%.3f, IVF-PQ $pq%.3f")
      assert(ivf >= 0.95, f"auto-IVF recall@10 $ivf%.3f < 0.95")
      assert(pq >= 0.9, f"IVF-PQ auto-refine recall@10 $pq%.3f < 0.9")
    } finally JavaUtils.deleteRecursively(dir)
  }
}
