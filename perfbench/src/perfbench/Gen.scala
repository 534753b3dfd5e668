package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import graft.streaming.KeyedRecord

/** Seeded input generators and the plain-Scala references the benchmark
  * checks the program's outputs against. Everything here is a pure
  * function of (seed, size): the same seed gives the same inputs. */
object Gen {

  /** Independent random stream per (seed, purpose). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Seeded permutation of [0, n). */
  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Zipf(s) over ranks [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val a = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
      i = 0
      while (i < n) { a(i) /= acc; i += 1 }
      a
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  def key(id: Int): String = f"k$id%07d"

  private val epochMs = 1700000000000L

  /** Keyed event stream for `detectChanges`: Zipf-skewed keys over a
    * fixed key space (hot keys seeded per seed), values from a small
    * alphabet so initial, changed and unchanged events all occur. Every
    * event gets a strictly increasing timestamp, so "latest wins" is the
    * generation order and `reference` is a plain replay. */
  final class EventStream(seed: Long, nKeys: Int, zipfS: Double, alphabet: Int) {
    private val r = rng(seed, 1)
    private val hot = permutation(nKeys, r)
    private val zipf = new Zipf(nKeys, zipfS)
    private var seq = 0L
    val reference = new java.util.HashMap[String, String]()
    /** Hash of every event generated so far. */
    var fingerprint = 0L

    private def event(id: Int): KeyedRecord = {
      val k = key(id)
      val v = "v" + r.nextInt(alphabet)
      reference.put(k, v)
      seq += 1
      val rec = KeyedRecord(k, v, "bench", 0, new Timestamp(epochMs + seq))
      fingerprint = fingerprint * 31 + rec.hashCode
      rec
    }

    /** One event for each of the first `share` of the key space, in
      * seeded order: the state the timed batches start from. */
    def fill(share: Double): Array[KeyedRecord] =
      hot.take((nKeys * share).toInt).map(event)

    def batch(n: Int): Array[KeyedRecord] =
      Array.fill(n)(event(hot(zipf.sample(r))))
  }

  /** Input files for `materialize`: uniform keys, ~2% tombstones.
    * `reference` tracks the latest-wins table over everything generated. */
  final class UpsertFiles(seed: Long, nKeys: Int) {
    private val r = rng(seed, 2)
    private var seq = 0L
    val reference = new java.util.HashMap[String, String]()
    /** Hash of every record generated so far. */
    var fingerprint = 0L

    def file(n: Int): Array[KeyedRecord] = Array.fill(n) {
      val k = key(r.nextInt(nKeys))
      val v = if (r.nextInt(50) == 0) null else "v" + r.nextInt(1000000)
      if (v == null) reference.remove(k) else reference.put(k, v)
      seq += 1
      val rec = KeyedRecord(k, v, "bench", 0, new Timestamp(epochMs + seq))
      fingerprint = fingerprint * 31 + rec.hashCode
      rec
    }

    /** Lookup keys: about 3/4 present in the table, 1/4 absent (deleted
      * or never written). */
    def lookupKeys(n: Int, present: Array[String]): Array[String] =
      Array.fill(n) {
        if (r.nextInt(4) < 3) present(r.nextInt(present.length))
        else key(nKeys + r.nextInt(nKeys))
      }
  }

  def jsonLine(rec: KeyedRecord): String = {
    val v = if (rec.value == null) "null" else "\"" + rec.value + "\""
    s"""{"key":"${rec.key}","value":$v,"topic":"${rec.topic}","partition":${rec.partition},"ts":"${rec.ts.toInstant}"}"""
  }

  /** Edge list of a seeded forest for connected components, with skewed
    * component sizes: one large component (a broom: a path of `pathLen`
    * nodes with a fifth of all nodes as leaves on one end), `paths` paths
    * of `pathLen` nodes, and stars whose sizes follow a power law. Node ids
    * are a seeded shuffle of a sparse id space, so structure and id order
    * are unrelated. The path length sets the number of large-star /
    * small-star rounds: 4 for 16-node paths on the seeds tried, so reliable
    * mode, which cuts every 4th round by default, makes one cut a call. */
  final case class Forest(a: Array[Long], b: Array[Long], nodes: Int) {
    def fingerprint: Long =
      java.util.Arrays.hashCode(a).toLong * 31 + java.util.Arrays.hashCode(b)
  }

  def forest(seed: Long, nNodes: Int, paths: Int, pathLen: Int): Forest = {
    val r = rng(seed, 3)
    val ids = permutation(nNodes * 4, r).take(nNodes).map(_.toLong)
    val ea = Array.newBuilder[Long]
    val eb = Array.newBuilder[Long]
    def edge(x: Int, y: Int): Unit =
      if (r.nextBoolean()) { ea += ids(x); eb += ids(y) }
      else { ea += ids(y); eb += ids(x) }
    val big = nNodes / 5
    var start = 0
    (0 to paths).foreach { _ =>
      (1 until pathLen).foreach(j => edge(start + j - 1, start + j))
      start += pathLen
    }
    (start until start + big).foreach(i => edge(0, i))
    start += big
    val sizes = new Zipf(200, 1.2)
    while (start < nNodes) {
      val size = math.min(2 + sizes.sample(r), nNodes - start)
      (1 until size).foreach(j => edge(start, start + j))
      start += size
    }
    Forest(ea.result(), eb.result(), nNodes)
  }

  /** Union-find component labels: node -> smallest node id of its
    * component (the labelling `connectedComponents` promises). */
  def components(f: Forest): Map[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var y = x
      while (y != root) { val n = parent.get(y); parent.put(y, root); y = n }
      root
    }
    f.a.indices.foreach { i =>
      parent.putIfAbsent(f.a(i), f.a(i)); parent.putIfAbsent(f.b(i), f.b(i))
      val (x, y) = (find(f.a(i)), find(f.b(i)))
      if (x != y) { if (x < y) parent.put(y, x) else parent.put(x, y) }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet.asScala.iterator.map(n => n -> find(n)).toMap
  }
}
