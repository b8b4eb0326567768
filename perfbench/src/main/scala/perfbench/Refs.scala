package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable

/** Driver-side reference answers, written independently of the engine so a
  * wrong engine result cannot also be the expected one. Graphs are given as
  * a sorted vertex array plus edge pairs; every result is indexed by the
  * position of the vertex in that array.
  */
object Refs {

  /** A graph over vertex ids `ids` (sorted, distinct) with adjacency lists
    * of positions. `out(i)` holds the heads of edges leaving `ids(i)`. */
  final class Adj(val ids: Array[Long], val out: Array[Array[Int]]) {
    def n: Int = ids.length
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** Adjacency of the directed edge set (self-loops and repeats dropped).
    * The vertex set is `vertexIds` — every endpoint must be in it. */
  def directed(vertexIds: Array[Long], edges: Iterable[(Long, Long)]): Adj = {
    val ids = vertexIds.distinct.sorted
    val sets = Array.fill(ids.length)(mutable.LinkedHashSet.empty[Int])
    val a = new Adj(ids, null)
    for ((s, d) <- edges if s != d) sets(a.index(s)) += a.index(d)
    new Adj(ids, sets.map(_.toArray.sorted))
  }

  /** Adjacency of the undirected simple graph on the same edges. */
  def undirected(vertexIds: Array[Long], edges: Iterable[(Long, Long)]): Adj =
    directed(vertexIds, edges.flatMap { case (s, d) => Seq((s, d), (d, s)) })

  /** Hop distance from `src` (position); -1 where unreachable. */
  def bfs(g: Adj, src: Int): Array[Int] = {
    val dist = Array.fill(g.n)(-1)
    val q = new mutable.Queue[Int]()
    dist(src) = 0
    q.enqueue(src)
    while (q.nonEmpty) {
      val u = q.dequeue()
      for (v <- g.out(u) if dist(v) < 0) { dist(v) = dist(u) + 1; q.enqueue(v) }
    }
    dist
  }

  /** Weakly connected components by union-find; label = min id. */
  def wcc(g: Adj): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for (u <- 0 until g.n; v <- g.out(u)) {
      val (a, b) = (find(u), find(v))
      // the smaller position is the root, so the root is the min id
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Array.tabulate(g.n)(i => g.ids(find(i)))
  }

  /** Strongly connected components by iterative Tarjan; label = min id. */
  def scc(g: Adj): Array[Long] = {
    val n = g.n
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = new Array[Long](n)
    val stack = new mutable.ArrayStack[Int]()
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    var next = 0
    for (root <- 0 until n if index(root) < 0) {
      var depth = 0
      callV(0) = root; callE(0) = 0
      index(root) = next; low(root) = next; next += 1
      stack.push(root); onStack(root) = true
      while (depth >= 0) {
        val u = callV(depth)
        if (callE(depth) < g.out(u).length) {
          val v = g.out(u)(callE(depth))
          callE(depth) += 1
          if (index(v) < 0) {
            index(v) = next; low(v) = next; next += 1
            stack.push(v); onStack(v) = true
            depth += 1
            callV(depth) = v; callE(depth) = 0
          } else if (onStack(v)) low(u) = math.min(low(u), index(v))
        } else {
          if (low(u) == index(u)) {
            val members = mutable.ArrayBuffer.empty[Int]
            var w = -1
            while (w != u) { w = stack.pop(); onStack(w) = false; members += w }
            val label = members.map(g.ids(_)).min
            members.foreach(comp(_) = label)
          }
          depth -= 1
          if (depth >= 0) {
            val p = callV(depth)
            low(p) = math.min(low(p), low(u))
          }
        }
      }
    }
    comp
  }

  /** Core numbers by Batagelj–Zaversnik bucket peeling (undirected `g`). */
  def coreNumbers(g: Adj): Array[Int] = {
    val n = g.n
    val deg = Array.tabulate(n)(g.out(_).length)
    val maxDeg = if (n == 0) 0 else deg.max
    val bin = new Array[Int](maxDeg + 2)
    deg.foreach(d => bin(d) += 1)
    var start = 0
    for (d <- 0 to maxDeg) { val c = bin(d); bin(d) = start; start += c }
    val pos = new Array[Int](n)
    val vert = new Array[Int](n)
    for (v <- 0 until n) { pos(v) = bin(deg(v)); vert(pos(v)) = v; bin(deg(v)) += 1 }
    for (d <- maxDeg to 1 by -1) bin(d) = bin(d - 1)
    bin(0) = 0
    for (i <- 0 until n) {
      val v = vert(i)
      for (u <- g.out(v) if deg(u) > deg(v)) {
        val du = deg(u); val pu = pos(u); val pw = bin(du); val w = vert(pw)
        if (u != w) { pos(u) = pw; vert(pu) = w; pos(w) = pu; vert(pw) = u }
        bin(du) += 1
        deg(u) -= 1
      }
    }
    deg
  }

  /** `iters` rounds of PageRank on directed `g` with uniform reset; the
    * mass of vertices without out-edges is spread by the reset vector. */
  def pagerank(g: Adj, iters: Int, alpha: Double = 0.85): Array[Double] = {
    val n = g.n
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val in = new Array[Double](n)
      var dangling = 0.0
      for (u <- 0 until n) {
        val k = g.out(u).length
        if (k == 0) dangling += pr(u)
        else { val c = pr(u) / k; g.out(u).foreach(v => in(v) += c) }
      }
      pr = Array.tabulate(n)(v => alpha * (in(v) + dangling / n) + (1 - alpha) / n)
    }
    pr
  }

  /** Newman modularity (resolution 1) of `labels` on undirected `g`. */
  def modularity(g: Adj, labels: Array[Long]): Double = {
    val m2 = g.out.map(_.length.toDouble).sum
    val tot = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    var in = 0.0
    for (u <- 0 until g.n) {
      tot(labels(u)) += g.out(u).length
      for (v <- g.out(u) if labels(u) == labels(v)) in += 1
    }
    in / m2 - tot.values.map(t => (t / m2) * (t / m2)).sum
  }

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The top 60 bits of md5(s) as a non-negative long, read the way the
    * engine reads them: the first 15 hex digits of the digest. */
  def hash60(s: String): Long = {
    val d = md5.get().digest(s.getBytes(UTF_8))
    var v = 0L
    for (i <- 0 until 8) v = (v << 8) | (d(i) & 0xffL)
    v >>> 4
  }

  def hash60(s: String, seed: Int): Long = hash60(s + "#" + seed)

  /** Distinct word `n`-gram shingles of a space-separated text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) Set.empty
    else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  /** MinHash signature: per hash family j, the min seeded hash60 over the
    * distinct shingles; None for a text with no shingle. */
  def minhash(text: String, k: Int = 8, n: Int = 3): Option[Array[Long]] = {
    val sh = shingles(text, n)
    if (sh.isEmpty) None else Some(Array.tabulate(k)(j => sh.iterator.map(hash60(_, j)).min))
  }

  /** SimHash: bit b is set when the tf-weighted vote of the tokens whose
    * hash60 has bit b is positive. */
  def simhash(text: String, bits: Int = 32): Long = {
    val tf = text.split(" ", -1).groupBy(identity).map { case (t, xs) => (hash60(t), xs.length.toLong) }
    (0 until bits).foldLeft(0L) { (acc, b) =>
      val s = tf.iterator.map { case (h, c) => if (((h >> b) & 1L) == 1L) c else -c }.sum
      if (s > 0) acc | (1L << b) else acc
    }
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}
