package graft.datalog

import scala.collection.mutable

/** Seeded graph generators for the large-graph specs. Each returns the
  * same edges for the same seed, so a failing case reproduces exactly. */
object GeneratedGraphs {

  /** Directed G(n,p) without self-loops: every ordered pair (u,v), u≠v,
    * is an edge independently with probability p. Geometric skipping
    * over the n(n-1) pair indices (Batagelj & Brandes 2005) visits only
    * the chosen pairs. */
  def gnp(n: Int, p: Double, seed: Long): Seq[(Int, Int)] = {
    val rnd = new java.util.Random(seed)
    val logQ = math.log(1 - p)
    val pairs = n.toLong * (n - 1)
    val out = mutable.ArrayBuffer[(Int, Int)]()
    var k = -1L
    var done = false
    while (!done) {
      k += 1 + (math.log(1 - rnd.nextDouble()) / logQ).toLong
      if (k >= pairs) done = true
      else {
        val u = (k / (n - 1)).toInt
        val j = (k % (n - 1)).toInt
        out += ((u, if (j >= u) j + 1 else j))
      }
    }
    out.toSeq
  }

  /** A forest of exactly `trees` random recursive trees over `nodes`
    * nodes (each tree at least 2 nodes), every undirected tree edge
    * listed in both directions: 2 × (nodes − trees) edge rows. Within a
    * tree each node attaches to a uniform earlier node; node ids are a
    * seeded permutation, so no structure shows in their order. */
  def forest(nodes: Int, trees: Int, seed: Long): Seq[(Int, Int)] = {
    require(nodes >= 2 * trees)
    val rnd = new java.util.Random(seed)
    val sizes = Array.fill(trees)(2)
    for (_ <- 0 until nodes - 2 * trees) sizes(rnd.nextInt(trees)) += 1
    val ids = Array.tabulate(nodes)(identity)
    for (i <- nodes - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val out = mutable.ArrayBuffer[(Int, Int)]()
    var base = 0
    for (size <- sizes) {
      for (k <- 1 until size) {
        val a = ids(base + k)
        val b = ids(base + rnd.nextInt(k))
        out += ((a, b)); out += ((b, a))
      }
      base += size
    }
    out.toSeq
  }

  /** Number of connected components of the undirected graph, by
    * union-find over the edge list (isolated nodes are not counted —
    * a node exists only through its edges). */
  def components(edges: Seq[(Int, Int)]): Int = {
    val parent = mutable.HashMap[Int, Int]()
    def find(x: Int): Int = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.count(x => find(x) == x)
  }
}
