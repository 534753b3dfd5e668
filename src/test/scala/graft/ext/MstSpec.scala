package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graph.maxSpanningBackbone: the distributed Borůvka forest must equal
  * in-JVM Prim (the textbook sequential algorithm) on the same edges —
  * on hand graphs with ties and bridges, on random weighted graphs, and
  * on disconnected graphs (forest per component).
  *
  * With DISTINCT weights the maximum spanning tree is unique, so
  * Borůvka and Prim must agree edge-for-edge; the random generator
  * below assigns unique weights to make that comparison exact.
  */
class MstSpec extends SparkSpec {

  /** Sequential Prim per component over undirected weighted edges,
    * maximizing total weight; returns the chosen (a, b, w) set. */
  private def prim(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val adj = scala.collection.mutable.Map[Long, List[(Long, Long, Long, Long)]]()
      .withDefaultValue(Nil)
    edges.foreach { case (a, b, w) =>
      adj(a) = (b, w, a, b) :: adj(a)
      adj(b) = (a, w, a, b) :: adj(b)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val visited = scala.collection.mutable.Set[Long]()
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    nodes.foreach { start =>
      if (!visited(start)) {
        visited += start
        // max-heap on (w, -a, -b): highest weight first, smallest edge ids
        // break ties — the same total order as the distributed pick
        val pq = scala.collection.mutable.PriorityQueue[(Long, Long, Long, Long)]()(
          Ordering.by(t => (t._2, -t._3, -t._4)))
        adj(start).foreach { case (to, w, a, b) => pq.enqueue((to, w, a, b)) }
        while (pq.nonEmpty) {
          val (to, w, a, b) = pq.dequeue()
          if (!visited(to)) {
            visited += to
            out += ((a, b, w))
            adj(to).foreach { case (t2, w2, a2, b2) =>
              if (!visited(t2)) pq.enqueue((t2, w2, a2, b2))
            }
          }
        }
      }
    }
    out.toSet
  }

  private def backbone(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val n = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    val budget = math.max(1,
      math.ceil(math.log(math.max(n, 2).toDouble) / math.log(2.0)).toInt + 1)
    Graph.maxSpanningBackbone(
        edges.toDF("a", "b", "w").repartition(4), budget, budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("two triangles joined by a weak bridge: backbone == Prim") {
    // triangle 1-2-3 (strong), triangle 4-5-6 (strong), bridge 3-4 (weak)
    val edges = Seq[(Long, Long, Long)](
      (1L, 2L, 100L), (2L, 3L, 90L), (1L, 3L, 80L),
      (4L, 5L, 95L), (5L, 6L, 85L), (4L, 6L, 70L),
      (3L, 4L, 1L))
    val got = backbone(edges)
    assert(got === prim(edges))
    assert(got.size === 5, "6 nodes, connected -> 5 tree edges")
    assert(got.contains((3L, 4L, 1L)), "the bridge is mandatory")
    assert(!got.contains((1L, 3L, 80L)) && !got.contains((4L, 6L, 70L)),
      "the weakest edge of each triangle closes a cycle and must drop")
  }

  test("random unique-weight graphs: backbone == Prim (3 seeds)") {
    (1 to 3).foreach { seed =>
      val r = new scala.util.Random(seed)
      val n = 60
      // random connected-ish graph: a chain (guaranteed spanning path)
      // plus 120 random chords; unique weights via index
      val chain = (1L until n).map(i => (i, i + 1, 0L))
      val chords = (1 to 120).map { _ =>
        val a = r.nextInt(n) + 1L; val b = r.nextInt(n) + 1L
        (math.min(a, b), math.max(a, b), 0L)
      }.filter(e => e._1 != e._2)
      val uniq = (chain ++ chords).map(e => (e._1, e._2)).distinct
      val edges = uniq.zipWithIndex.map { case ((a, b), i) =>
        // unique shuffled weights
        (a, b, ((i.toLong * 2654435761L) % 100003L))
      }
      assert(backbone(edges) === prim(edges), s"seed $seed diverged")
    }
  }

  test("disconnected graph: one tree per component") {
    val edges = Seq[(Long, Long, Long)](
      (1L, 2L, 10L), (2L, 3L, 20L), (1L, 3L, 5L),  // comp A: 3 nodes
      (10L, 11L, 7L))                              // comp B: 2 nodes
    val got = backbone(edges)
    assert(got === prim(edges))
    assert(got.size === 3, "3-node tree (2 edges) + 2-node tree (1 edge)")
  }

  test("reliable checkpoint mode: same backbone, cuts written to the checkpoint dir") {
    val r = new scala.util.Random(7)
    val n = 80
    val chords = (1 to 160).map { _ =>
      val a = r.nextInt(n) + 1L; val b = r.nextInt(n) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2)
    val edges = ((1L until n).map(i => (i, i + 1)) ++ chords).distinct
      .zipWithIndex.map { case ((a, b), i) => (a, b, (i.toLong * 2654435761L) % 100003L) }
    val local = backbone(edges)
    Caches.releaseAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-mst-ckpt").toFile
    spark.conf.set("graft.checkpoint.dir", dir.toString)
    val reliable = try backbone(edges)
      finally spark.conf.unset("graft.checkpoint.dir")
    Caches.releaseAll(spark)
    def parts(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(parts).sum
      else if (f.getName.startsWith("part-")) 1 else 0
    assert(reliable === local)
    assert(local === prim(edges))
    assert(parts(dir) > 0, "reliable mode writes its cuts under the configured dir")
  }
}
