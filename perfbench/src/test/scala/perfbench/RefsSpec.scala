package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RefsSpec extends AnyFunSuite {

  private def und(edges: (Long, Long)*): Refs.Adj =
    Refs.undirected(edges.flatMap { case (s, d) => Seq(s, d) }.toArray, edges)

  private def dir(edges: (Long, Long)*): Refs.Adj =
    Refs.directed(edges.flatMap { case (s, d) => Seq(s, d) }.toArray, edges)

  private val path = und((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))

  // 3x3 grid, vertex r*3+c
  private val grid = und((for (r <- 0 until 3; c <- 0 until 3; (dr, dc) <- Seq((0, 1), (1, 0))
                              if r + dr < 3 && c + dc < 3)
    yield ((r * 3 + c).toLong, ((r + dr) * 3 + c + dc).toLong)): _*)

  private def clique(ids: Long*): Seq[(Long, Long)] =
    for (a <- ids; b <- ids if a < b) yield (a, b)
  private val twoCliques = und(clique(0L, 1L, 2L, 3L) ++ clique(10L, 11L, 12L): _*)

  test("BFS distances on a path and a grid") {
    assert(Refs.bfs(path, 0).toSeq == Seq(0, 1, 2, 3, 4))
    assert(Refs.bfs(grid, 0).toSeq == (for (r <- 0 until 3; c <- 0 until 3) yield r + c))
    assert(Refs.bfs(twoCliques, 0).toSeq == Seq(0, 1, 1, 1, -1, -1, -1))
  }

  test("WCC labels each component with its min id") {
    assert(Refs.wcc(path).toSeq == Seq.fill(5)(0L))
    assert(Refs.wcc(twoCliques).toSeq == Seq(0L, 0L, 0L, 0L, 10L, 10L, 10L))
  }

  test("SCC of a directed cycle with a tail") {
    // 3 -> 1 -> 2 -> 3 is the cycle; 3 -> 4 -> 5 the tail; 0 -> 1 feeds it
    val g = dir((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (0L, 1L))
    assert(Refs.scc(g).toSeq == Seq(0L, 1L, 1L, 1L, 4L, 5L))
    assert(Refs.wcc(und((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))).toSet == Set(1L))
  }

  test("core numbers of a path, a grid and two cliques") {
    assert(Refs.coreNumbers(path).toSeq == Seq.fill(5)(1))
    assert(Refs.coreNumbers(grid).toSeq == Seq.fill(9)(2))
    assert(Refs.coreNumbers(twoCliques).toSeq == Seq(3, 3, 3, 3, 2, 2, 2))
    // a triangle with a pendant: the pendant peels at 1, the triangle at 2
    assert(Refs.coreNumbers(und((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L))).toSeq == Seq(2, 2, 2, 1))
  }

  test("PageRank: one round by hand, with a dangling vertex") {
    val pr = Refs.pagerank(dir((0L, 1L)), 1)
    assert(math.abs(pr(0) - 0.2875) < 1e-15)
    assert(math.abs(pr(1) - 0.7125) < 1e-15)
    val p10 = Refs.pagerank(path, 10)
    assert(math.abs(p10.sum - 1.0) < 1e-12)
    assert(math.abs(p10(0) - p10(4)) < 1e-15 && math.abs(p10(1) - p10(3)) < 1e-15)
  }

  test("modularity of two disjoint cliques split by clique is 4/9") {
    val labels = Array(0L, 0L, 0L, 0L, 10L, 10L, 10L)
    assert(math.abs(Refs.modularity(twoCliques, labels) - 4.0 / 9.0) < 1e-12)
    assert(math.abs(Refs.modularity(twoCliques, Array.fill(7)(0L))) < 1e-12)
  }

  test("shingles, MinHash and SimHash on short texts") {
    assert(Refs.shingles("a b") == Set.empty)
    assert(Refs.shingles("a b c a b c") == Set("a b c", "b c a", "c a b"))
    assert(Refs.minhash("a b").isEmpty)
    val mh = Refs.minhash("a b c d").get
    assert(mh.toSeq == (0 until 8).map(j => math.min(Refs.hash60("a b c", j), Refs.hash60("b c d", j))))
    val h = Refs.hash60("x")
    assert(Refs.simhash("x") == (h & 0xffffffffL))
    assert(Refs.jaccard(Set("a", "b"), Set("b", "c")) == 1.0 / 3.0)
  }
}
