package dlbench

import java.util.SplittableRandom

/** Seeded input graphs. Every edge is a pure function of (seed, node
  * index), so executors generate the same rows the driver-side oracles
  * enumerate, and the same seed always gives the same graph. */
object Mix {
  /** SplitMix64 finaliser: a well-spread 64-bit hash of (seed, i). */
  def apply(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, i: Long): SplittableRandom = new SplittableRandom(apply(seed, i))
}

/** Seeded uniform permutation of [0, n) (Fisher-Yates), used to
  * scramble node ids so no structure shows in their order. */
final class Perm(n: Int, seed: Long) extends Serializable {
  private val forward: Array[Int] = {
    val a = Array.tabulate(n)(identity)
    val r = Mix.rng(seed, n)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  @transient private lazy val backward: Array[Int] = {
    val b = new Array[Int](n)
    for (i <- 0 until n) b(forward(i)) = i
    b
  }
  def apply(i: Long): Int = forward(i.toInt)
  def inverse(x: Int): Int = backward(x)
}

/** `chains` disjoint directed paths of `length` nodes each. Node index
  * i lies on chain i / length at position i % length; its id is perm(i). */
final case class ChainForest(chains: Int, length: Int, seed: Long) {
  val nodes: Long = chains.toLong * length
  val perm = new Perm(nodes.toInt, seed)
  def arcsOf(i: Long): Iterator[(Int, Int)] =
    if (i % length == length - 1) Iterator.empty
    else Iterator((perm(i), perm(i + 1)))
  /** |tc| in closed form: every ordered pair along each chain. */
  val tcCount: Long = chains.toLong * length * (length - 1) / 2
}

/** `comps` disjoint undirected components, each a root plus `depth`
  * layers of `width` nodes. Every layer-k node links to one random node
  * of layer k-1, with probability 1/4 to a second one, and with
  * probability 1/4 to a random node of its own layer. Ids of a component
  * form one block whose smallest id is the root, so the minimum label
  * needs exactly `depth` rounds to reach the last layer and the round
  * count does not vary with the seed. */
final case class LayeredComponents(comps: Int, depth: Int, width: Int, seed: Long) {
  val size: Int = 1 + depth * width
  val nodes: Long = comps.toLong * size
  private val compPerm = new Perm(comps, seed)
  private val localPerm = new Perm(size - 1, seed + 1)
  def id(i: Long): Int = {
    val c = i / size
    val local = i % size
    // Rotating by a per-component offset varies the order between components.
    val localId =
      if (local == 0) 0
      else 1 + localPerm((local - 1 + Math.floorMod(Mix(seed, -1 - c), size - 1L)) % (size - 1))
    compPerm(c) * size + localId
  }
  /** Both directions of every undirected edge incident from node i. */
  def edgesOf(i: Long): Iterator[(Int, Int)] = {
    val local = (i % size).toInt
    if (local == 0) return Iterator.empty
    val base = i - local
    val layer = 1 + (local - 1) / width
    val r = Mix.rng(seed, i)
    def inLayer(k: Int): Long = if (k == 0) base else base + 1 + (k - 1) * width + r.nextInt(width)
    val ends = Seq.newBuilder[Long]
    ends += inLayer(layer - 1)
    if (r.nextInt(4) == 0) ends += inLayer(layer - 1)
    if (r.nextInt(4) == 0) ends += inLayer(layer)
    val me = id(i)
    ends.result().iterator.filter(_ != i).flatMap { j =>
      val other = id(j)
      Iterator((me, other), (other, me))
    }
  }
}

/** A sparse layered DAG: `layers` layers of nodes / layers nodes each.
  * Every node above the last layer has one or two out-edges (mean 1.5)
  * to uniform nodes of the next layer. A key in the first layer reaches
  * about a dozen nodes through exactly layers - 1 levels, so every bound
  * query runs the same short fixpoint. Ids are perm(i). */
final case class LayeredDag(nodes: Int, layers: Int, seed: Long) {
  val perm = new Perm(nodes, seed)
  private val width = nodes / layers
  def targetsOf(i: Long): Array[Long] = {
    val layer = i / width
    if (layer >= layers - 1) return Array.empty
    val r = Mix.rng(seed, i)
    val next = (layer + 1) * width
    Array.fill(1 + r.nextInt(2))(next + r.nextInt(width))
  }
  def arcsOf(i: Long): Iterator[(Int, Int)] = {
    val me = perm(i)
    targetsOf(i).iterator.map(j => (me, perm(j)))
  }
  /** Distinct first-layer query keys in seeded order. */
  def keys(stream: Long): Iterator[Int] = {
    val r = Mix.rng(seed, -stream)
    val used = new java.util.BitSet(width)
    Iterator.continually(r.nextInt(width)).filter { i =>
      val fresh = !used.get(i)
      used.set(i)
      fresh
    }.map(i => perm(i))
  }
}
