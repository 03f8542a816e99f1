package graft.datalog

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** Property tests against in-memory Scala oracles on random graphs —
  * cycles included (the engine's fixpoints must terminate and agree
  * with Warshall closure / Dijkstra / union-find on every instance). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // deterministic random instances (scalatestplus isn't resolvable in
  // the offline build, so the property harness is a seeded loop)
  private val cases = 5

  private def randomGraph(rnd: Random): Seq[(Int, Int)] = {
    val n = 4 + rnd.nextInt(7)
    val m = 1 + rnd.nextInt(2 * n)
    (0 until m).map { _ =>
      val a = rnd.nextInt(n)
      val b = (a + 1 + rnd.nextInt(n - 1)) % n
      (a, b)
    }.distinct
  }

  private def forAllGraphs(seed: Long)(body: Seq[(Int, Int)] => Unit): Unit = {
    val rnd = new Random(seed)
    (1 to cases).foreach { i =>
      val g = randomGraph(rnd)
      withClue(s"case $i graph $g: ") { body(g) }
    }
  }

  private def warshall(edges: Seq[(Int, Int)]): Set[(Int, Int)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var tc = edges.toSet
    var grew = true
    while (grew) {
      val next = tc ++ (for ((a, b) <- tc; (c, d) <- tc if b == c) yield (a, d))
      grew = next.size > tc.size
      tc = next
    }
    tc
  }

  test("localiterate TC agrees with Warshall closure on random cyclic digraphs") {
    // the within-task wave must terminate and agree on CYCLIC inputs:
    // each partition's local set is exactly the semi-naive fact set,
    // so cycles dry the frontier the same way the looped path does
    forAllGraphs(4242L) { edges =>
      val prev = Seq("spark.datalog.recursion.localiterate",
        "spark.datalog.recursion.localDeltaRows")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.datalog.recursion.localiterate", "true")
      spark.conf.set("spark.datalog.recursion.localDeltaRows", "0")
      try {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(
          "database({arc(X:integer, Y:integer)})." +
            "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B).")
        ctx.registerData("arc", edges.map { case (a, b) => s"$a,$b" })
        val got = ctx.query("tc(A,B).").collect()
          .map(r => (r.getInt(0), r.getInt(1))).toSet
        assert(ctx.localIterateRuns == 1, "wave did not engage")
        assert(got == warshall(edges))
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("TC (left-linear and non-linear) agrees with Warshall closure on random digraphs") {
    forAllGraphs(42L) { edges =>
      for (rec <- Seq("tc(A,B) <- tc(A,C), arc(C,B).",
                      "tc(A,B) <- tc(A,C), tc(C,B).")) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(
          "database({arc(X:integer, Y:integer)})." +
            s"tc(A,B) <- arc(A,B). $rec")
        ctx.registerData("arc", edges.map { case (a, b) => s"$a,$b" })
        val got = ctx.query("tc(A,B).").collect()
          .map(r => (r.getInt(0), r.getInt(1))).toSet
        assert(got == warshall(edges), s"rule: $rec")
      }
    }
  }

  test("left-linear TC handoff (full and bound) agrees with Warshall, both paths") {
    // the localized seed slice hands the fixpoint to the driver-resident
    // kernel under mutuallocal=auto; false keeps the looped path
    forAllGraphs(4343L) { edges =>
      val src = edges.head._1
      for (local <- Seq("auto", "false")) {
        val prev = spark.conf.getOption("spark.datalog.recursion.mutuallocal")
        spark.conf.set("spark.datalog.recursion.mutuallocal", local)
        try {
          val ctx = new DatalogContext(spark)
          ctx.loadProgram(
            "database({arc(X:integer, Y:integer)})." +
              "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B).")
          ctx.registerData("arc", edges.map { case (a, b) => s"$a,$b" })
          val bound = ctx.query(s"tc($src,B).").collect()
            .map(r => (r.getInt(0), r.getInt(1))).toSet
          assert(ctx.lastBoundPushdown)
          assert(bound == warshall(edges).filter(_._1 == src), s"bound, $local")
          val full = ctx.query("tc(A,B).").collect()
            .map(r => (r.getInt(0), r.getInt(1))).toSet
          assert(full == warshall(edges), s"full, $local")
          assert(ctx.mutualLocalRuns == (if (local == "auto") 2 else 0),
            s"mutuallocal=$local ran ${ctx.mutualLocalRuns} driver fixpoints")
        } finally prev match {
          case Some(v) => spark.conf.set("spark.datalog.recursion.mutuallocal", v)
          case None => spark.conf.unset("spark.datalog.recursion.mutuallocal")
        }
      }
    }
  }

  test("SCC + condensation agree with mutual-reachability oracle on random cyclic digraphs") {
    // scc_id(v) = min over {v} ∪ {u : v ⇄ u}; condensation = quotient
    // edges between distinct components — derived here directly from
    // the Warshall closure (implementation-independent), compared on
    // BOTH the looped and the within-task localiterate paths (the
    // dl_scc/dl_scc_dag gates run the latter)
    forAllGraphs(1717L) { edges =>
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val tc = warshall(edges)
      val sid = nodes.map(v => v ->
        (nodes.filter(u => tc((v, u)) && tc((u, v))) :+ v).min).toMap
      val sccExpected = sid.map { case (v, s) => (v, s) }.toSet
      val dagExpected = edges.collect {
        case (a, b) if sid(a) != sid(b) => (sid(a), sid(b))
      }.toSet
      for (localIter <- Seq(false, true)) {
        val key = "spark.datalog.recursion.localiterate"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, localIter.toString)
        try {
          val ctx = new DatalogContext(spark)
          ctx.loadProgram(
            "database({sarc(X:integer, Y:integer), node(X:integer)})." +
              "stc(A,B) <- sarc(A,B). stc(A,B) <- stc(A,C), sarc(C,B). " +
              "mut(A,B) <- stc(A,B), stc(B,A). " +
              "mut(A,B) <- node(A), B=A. " +
              "sccid(A,min<B>) <- mut(A,B). " +
              "cedge(S,T) <- sccid(A,S), sarc(A,B), sccid(B,T), S ~= T.")
          ctx.registerData("sarc", edges.map { case (a, b) => s"$a,$b" })
          ctx.registerData("node", nodes.map(_.toString))
          val gotScc = ctx.query("sccid(A,B).").collect()
            .map(r => (r.getInt(0), r.getInt(1))).toSet
          assert(gotScc == sccExpected, s"sccid (localiterate=$localIter)")
          val gotDag = ctx.query("cedge(S,T).").collect()
            .map(r => (r.getInt(0), r.getInt(1))).toSet
          assert(gotDag == dagExpected, s"cedge (localiterate=$localIter)")
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
  }

  private def forAllWeighted(seed: Long)(body: Seq[(Int, Int, Int)] => Unit): Unit = {
    val rnd = new Random(seed)
    (1 to cases).foreach { i =>
      val g = randomGraph(rnd).map { case (a, b) => (a, b, 1 + rnd.nextInt(9)) }
      withClue(s"case $i graph $g: ") { body(g) }
    }
  }

  private def dijkstra(edges: Seq[(Int, Int, Int)], src: Int): Map[Int, Int] = {
    val adj = edges.groupBy(_._1)
    val dist = mutable.Map(src -> 0)
    val pq = mutable.PriorityQueue((0, src))(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (dist(u) == d)
        for ((_, v, w) <- adj.getOrElse(u, Nil)
             if dist.get(v).forall(_ > d + w)) {
          dist(v) = d + w; pq.enqueue((d + w, v))
        }
    }
    dist.toMap
  }

  test("SSSP via mmin agrees with Dijkstra on random weighted digraphs (cycles ok)") {
    forAllWeighted(7L) { edges =>
      {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(
          "database({arc(X:integer, Y:integer, C:integer)})." +
            "mminpath(X,mmin<D>) <- X=0, D=0. " +
            "mminpath(Z,mmin<D>) <- mminpath(X,D1), arc(X,Z,C), D=D1+C. " +
            "sssp(X,min<D>) <- mminpath(X,D).")
        ctx.registerData("arc", edges.map { case (a, b, w) => s"$a,$b,$w" })
        val got = ctx.query("sssp(A,D).").collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
        assert(got == dijkstra(edges, 0))
      }
    }
  }

  test("bound queries agree across pushdown strategies on random digraphs") {
    // left-linear (stable-seed pushdown), right-linear (magic-set
    // rewrite) and non-linear (magic mutually recursive with tc) must
    // all equal the Warshall closure restricted to the bound source —
    // on cyclic graphs too, where the magic set revisits its own seeds
    forAllGraphs(99L) { edges =>
      val src = edges.head._1
      val expected = warshall(edges).filter(_._1 == src)
      for ((rec, wantPush) <- Seq(
        ("tc(A,B) <- tc(A,C), arc(C,B).", true),
        ("tc(A,B) <- arc(A,C), tc(C,B).", true),
        ("tc(A,B) <- tc(A,C), tc(C,B).", true))) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(
          "database({arc(X:integer, Y:integer)})." +
            s"tc(A,B) <- arc(A,B). $rec")
        ctx.registerData("arc", edges.map { case (a, b) => s"$a,$b" })
        val got = ctx.query(s"tc($src,B).").collect()
          .map(r => (r.getInt(0), r.getInt(1))).toSet
        assert(ctx.lastBoundPushdown == wantPush, s"rule: $rec pushdown flag")
        assert(got == expected, s"rule: $rec")
        ctx.close()
      }
    }
  }

  test("msum path counting agrees with DP on random DAGs") {
    forAllGraphs(2024L) { g =>
      // forward-orient the edges → DAG with 0 minimal
      val edges = g.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter(e => e._1 != e._2).distinct
      val inEdges = edges.groupBy(_._2)
      val memo = mutable.Map[Int, Long]()
      def cnt(v: Int): Long = memo.getOrElseUpdate(v,
        (if (v == 0) 1L else 0L) +
          inEdges.getOrElse(v, Nil).map(e => cnt(e._1)).sum)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct :+ 0
      val expected = nodes.distinct.map(v => v -> cnt(v)).filter(_._2 > 0).toMap

      val ctx = new DatalogContext(spark)
      ctx.loadProgram(
        "database({arc(X:integer, Y:integer)})." +
          "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
          "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y).")
      ctx.registerData("arc", edges.map { case (a, b) => s"$a,$b" })
      val got = ctx.query("cp(N, C).").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == expected)
      ctx.close()
    }
  }

  /** In-memory oracle for alternating-parity reachability from source
    * 0: node n is `even`-derivable iff reachable in an even number of
    * steps (not necessarily the shortest path — any walk counts). */
  private def parityReach(edges: Seq[(Int, Int)]): (Set[Int], Set[Int]) = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seen = mutable.Set[(Int, Int)]((0, 0)) // (node, parity)
    var frontier = List((0, 0))
    while (frontier.nonEmpty) {
      frontier = for {
        (n, p) <- frontier
        m <- adj.getOrElse(n, Nil)
        np = (m, 1 - p) if seen.add(np)
      } yield np
    }
    (seen.collect { case (n, 0) => n }.toSet,
      seen.collect { case (n, 1) => n }.toSet)
  }

  test("mutual even/odd agrees with parity BFS on random cyclic digraphs, both paths") {
    // the driver-resident mutual fixpoint (r16) and the looped
    // round-robin must agree with an independent parity-walk oracle on
    // every instance — cycles included (odd cycles make nodes BOTH
    // even and odd; the fixpoint must still dry up)
    forAllGraphs(7777L) { edges =>
      val (evenExp, _) = parityReach(edges)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      for (local <- Seq("auto", "false")) {
        val prev = spark.conf.getOption("spark.datalog.recursion.mutuallocal")
        spark.conf.set("spark.datalog.recursion.mutuallocal", local)
        try {
          val ctx = new DatalogContext(spark)
          ctx.loadProgram(
            "database({arc(X:integer, Y:integer), node(X:integer)})." +
              "even(X) <- node(X), X=0. " +
              "even(Y) <- odd(X), arc(X,Y). " +
              "odd(Y) <- even(X), arc(X,Y).")
          ctx.registerData("arc", edges.map { case (a, b) => s"$a,$b" })
          ctx.registerData("node", nodes.map(_.toString))
          val got = ctx.query("even(A).").collect().map(_.getInt(0)).toSet
          // the seed requires node(0): a graph without node 0 derives
          // nothing (evenExp = {0} then, and 0 is not a node)
          withClue(s"mutuallocal=$local (driver runs=${ctx.mutualLocalRuns}): ") {
            assert(got == (evenExp & nodes.toSet))
          }
          if (local == "auto")
            assert(ctx.mutualLocalRuns == 1, "driver path should engage")
        } finally prev match {
          case Some(v) => spark.conf.set("spark.datalog.recursion.mutuallocal", v)
          case None => spark.conf.unset("spark.datalog.recursion.mutuallocal")
        }
      }
    }
  }

  test("bound mutual magic agrees with the full evaluation post-filtered") {
    // per-member magic rewrite (r16) on random graphs: for a random
    // bound node K, even(K). through the rewrite (fresh context — no
    // memo to post-filter) must equal membership in the full answer
    forAllGraphs(9191L) { edges =>
      val (evenExp, _) = parityReach(edges)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val rnd = new Random(edges.hashCode())
      val k = nodes(rnd.nextInt(nodes.length))
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(
        "database({arc(X:integer, Y:integer), node(X:integer)})." +
          "even(X) <- node(X), X=0. " +
          "even(Y) <- odd(X), arc(X,Y). " +
          "odd(Y) <- even(X), arc(X,Y).")
      ctx.registerData("arc", edges.map { case (a, b) => s"$a,$b" })
      ctx.registerData("node", nodes.map(_.toString))
      val got = ctx.query(s"even($k).").collect().map(_.getInt(0)).toSet
      val want = if (evenExp(k)) Set(k) else Set.empty[Int]
      withClue(s"bound node $k (pushdown=${ctx.lastBoundPushdown}): ") {
        assert(got == want)
      }
    }
  }

  test("CC via mmin agrees with union-find on random undirected graphs") {
    forAllGraphs(1234L) { edges =>
      {
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val parent = mutable.Map(nodes.map(n => n -> n): _*)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        for ((a, b) <- edges) parent(find(a)) = find(b)
        val expected = nodes.map(n =>
          n -> nodes.filter(m => find(m) == find(n)).min).toMap

        val sym = edges ++ edges.map(e => (e._2, e._1))
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(
          "database({edge(X:integer, Y:integer), node(X:integer)})." +
            "cc3(X,mmin<X>) <- node(X). " +
            "cc3(Y,mmin<V>) <- cc3(X,V), edge(X,Y). " +
            "cc2(X,min<Y>) <- cc3(X,Y).")
        ctx.registerData("edge", sym.map { case (a, b) => s"$a,$b" })
        ctx.registerData("node", nodes.map(_.toString))
        val got = ctx.query("cc2(A,B).").collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
        assert(got == expected)
      }
    }
  }
}
