package dlbench

/** Answer checks that share no code with `graft.datalog`: each works
  * from the generator's own edges. A check returns None when the answer
  * is right and a one-line reason when it is not. */
object Oracles {

  /** Transitive closure of a chain forest. The closed-form size must
    * match, and every row must be a distinct (earlier, later) pair of
    * one chain; together these pin the whole answer. */
  def chainTc(f: ChainForest, pairs: Array[(Int, Int)]): Option[String] = {
    if (pairs.length != f.tcCount)
      return Some(s"tc has ${pairs.length} rows, closed form gives ${f.tcCount}")
    val seen = new java.util.BitSet((f.nodes * f.length).toInt)
    var k = 0
    while (k < pairs.length) {
      val (a, b) = pairs(k)
      val ia = f.perm.inverse(a)
      val ib = f.perm.inverse(b)
      if (ia / f.length != ib / f.length || ia % f.length >= ib % f.length)
        return Some(s"tc row ($a,$b) is not an ordered pair of one chain")
      val bit = ia * f.length + ib % f.length
      if (seen.get(bit)) return Some(s"tc row ($a,$b) is repeated")
      seen.set(bit)
      k += 1
    }
    None
  }

  /** Minimum node id of each node's component, by union-find over the
    * generated edges. Node ids are a permutation of [0, nodes). */
  final class ComponentLabels(g: LayeredComponents) {
    private val n = g.nodes.toInt
    private val parent = Array.tabulate(n)(identity)
    private def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    for (i <- 0 until n; (a, b) <- g.edgesOf(i)) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    private val minId = Array.fill(n)(Int.MaxValue)
    for (x <- 0 until n) { val r = find(x); minId(r) = math.min(minId(r), x) }
    /** node id → expected component label */
    val label: Array[Int] = Array.tabulate(n)(x => minId(find(x)))
    val components: Int = (0 until n).count(x => label(x) == x)

    def check(labels: Array[(Int, Int)], count: Long): Option[String] = {
      if (labels.length != n) return Some(s"cc2 has ${labels.length} rows for $n nodes")
      val seen = new java.util.BitSet(n)
      for ((x, l) <- labels) {
        if (x < 0 || x >= n) return Some(s"cc2 labels unknown node $x")
        if (seen.get(x)) return Some(s"cc2 repeats node $x")
        seen.set(x)
        if (label(x) != l) return Some(s"cc2 labels node $x with $l, union-find gives ${label(x)}")
      }
      if (count != components) Some(s"cc counts $count components, union-find gives $components")
      else None
    }
  }

  /** Descendants of a key in a sparse DAG, by breadth-first search. */
  final class Reach(g: LayeredDag) {
    private val out: Array[Array[Long]] = Array.tabulate(g.nodes)(i => g.targetsOf(i))
    def descendants(key: Int): Set[Int] = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var frontier = List(g.perm.inverse(key).toLong)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(i => out(i.toInt)).filter(seen.add)
      }
      seen.iterator.map(j => g.perm(j)).toSet
    }
    def check(key: Int, rows: Array[(Int, Int)]): Option[String] = {
      val want = descendants(key)
      val got = rows.map(_._2)
      if (rows.exists(_._1 != key)) Some(s"tc($key,B) returned a row for another source")
      else if (got.length != got.toSet.size) Some(s"tc($key,B) repeats a row")
      else if (got.toSet != want) Some(s"tc($key,B) has ${got.length} rows, BFS gives ${want.size}")
      else None
    }
  }
}
