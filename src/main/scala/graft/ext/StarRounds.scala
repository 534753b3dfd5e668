package graft.ext

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The RDD side of `Dedup.connectedComponents`' large-star/small-star
  * rounds. A round's state is its edge set in both orientations as
  * (u, v) long pairs under one [[ByFirst]] partitioner, each partition
  * sorted by (u, v): a node's pairs form one run, its v's ascending, so
  * the first v of a run is its minimum and duplicates are adjacent.
  * [[round]] walks the runs with largeStar, shuffles its edges by their
  * larger end, sorted, walks those runs with smallStar and shuffles its
  * edges into the next state; [[census]] walks a state once more. Runs
  * are streamed, never buffered, and the sorts spill through Spark's
  * external sorter. */
private[ext] object StarRounds {

  /** Hash-partitions (u, v) pairs by u alone. */
  final class ByFirst(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = {
      val h = java.lang.Long.hashCode(key.asInstanceOf[(Long, Long)]._1) % n
      if (h < 0) h + n else h
    }
  }

  private object PairOrder extends Ordering[(Long, Long)] {
    def compare(a: (Long, Long), b: (Long, Long)): Int = {
      val c = java.lang.Long.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** `pairs` shuffled by u and sorted by (u, v) within each partition. */
  def sorted(pairs: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    new ShuffledRDD[(Long, Long), Unit, Unit](pairs.map(p => (p, ())), part)
      .setKeyOrdering(PairOrder).keys

  /** Round 1's pairs from (doc_a, doc_b) long rows: both orientations of
    * an edge, one (a, a) for a self-loop, none for a null id. */
  def inputPairs(rows: Iterator[InternalRow]): Iterator[(Long, Long)] =
    rows.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
      else {
        val (a, b) = (r.getLong(0), r.getLong(1))
        if (a == b) Iterator.single((a, a)) else Iterator((a, b), (b, a))
      }
    }

  /** One round: the next state from `state`. */
  def round(state: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    sorted(sorted(state.mapPartitions(largeStar), part).mapPartitions(smallStar), part)

  /** For every node u, connect each strictly larger neighbour v to
    * m = min(u, Γ(u)), as the edge (v, m). A node with no neighbour but
    * itself stays its own pair. */
  private def largeStar(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    runs(it) { (u, vs) =>
      val first = vs.next()
      if (first == u && !vs.hasNext) Iterator.single((u, u))
      else {
        val m = math.min(u, first)
        (Iterator.single(first) ++ vs).filter(_ > u).map(v => (v, m))
      }
    }

  /** For every node s (its run holds only smaller neighbours), connect s
    * and each of those neighbours to the least of them, mn; each new
    * edge in both orientations. */
  private def smallStar(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    runs(it) { (s, ds) =>
      val mn = ds.next()
      if (mn == s) Iterator.single((s, s))
      else Iterator((s, mn), (mn, s)) ++ ds.flatMap(d => Iterator((d, mn), (mn, d)))
    }

  /** (open nodes, nodes) of one partition of a state. A node is open
    * iff its run holds a smaller neighbour and any other neighbour. */
  def census(it: Iterator[(Long, Long)]): (Long, Long) = {
    var open, nodes = 0L
    runs(it) { (u, vs) => Iterator.single(vs.next() < u && vs.hasNext) }
      .foreach { o => nodes += 1; if (o) open += 1 }
    (open, nodes)
  }

  /** (node, min(node, first neighbour)) rows of a converged state, in
    * `idType`, long or int. */
  def labels(state: RDD[(Long, Long)], idType: DataType): RDD[InternalRow] = {
    val id: Long => Any = if (idType == IntegerType) _.toInt else v => v
    state.mapPartitions(runs(_) { (u, vs) =>
      Iterator.single(new GenericInternalRow(Array[Any](id(u), id(math.min(u, vs.next())))))
    })
  }

  /** `f(u, vs)` for each run of a sorted partition, in order: `vs`
    * yields the run's v's ascending without adjacent duplicates, at
    * least one; what `f`'s result leaves unread is skipped. */
  private def runs[A](it: Iterator[(Long, Long)])(
      f: (Long, Iterator[Long]) => Iterator[A]): Iterator[A] = {
    val in = it.buffered
    new Iterator[Iterator[A]] {
      private var run: Run = null
      def hasNext: Boolean = {
        if (run != null) run.skip()
        in.hasNext
      }
      def next(): Iterator[A] = {
        run = new Run(in, in.head._1)
        f(run.u, run)
      }
    }.flatten
  }

  private final class Run(in: BufferedIterator[(Long, Long)], val u: Long) extends Iterator[Long] {
    private var last = 0L
    private var started = false
    def hasNext: Boolean = {
      while (started && in.hasNext && in.head._1 == u && in.head._2 == last) in.next()
      in.hasNext && in.head._1 == u
    }
    def next(): Long = {
      if (!hasNext) throw new NoSuchElementException(s"run of $u")
      last = in.next()._2
      started = true
      last
    }
    def skip(): Unit = while (in.hasNext && in.head._1 == u) in.next()
  }
}
