package graft.datalog

/** `mcount<K>` / `msum<(K,V)>` monotonic aggregates in recursion —
  * beyond the reference, which declares them TODO
  * (AggregateSetRDD.scala:146-147). Support-set semantics: per group,
  * distinct keys K accumulate monotonically, each carrying the max
  * contribution V; value = count(K) / sum(max V). */
class SupportAggSpec extends DatalogSuite {
  private val db = "database({arc(X:integer, Y:integer)})."

  // graph1b: chains 0-1-2-3-4-5 and 0-6-7-8-9-10, plus shortcut 0->2.
  // DAG path counts from 0: node 1:1, 2:2 (0->1->2 and 0->2), 3..5:2,
  // 6..10:1, and 0 itself seeds at 1.
  test("msum<(K,V)> counts DAG paths (sum of predecessor counts)") {
    val prog =
      "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
        "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y)."
    runCase(db + prog, "cp(N, C).",
      Map("arc" -> Fixtures.graph1b),
      Seq("[0,1]", "[1,1]", "[2,2]", "[3,2]", "[4,2]", "[5,2]",
        "[6,1]", "[7,1]", "[8,1]", "[9,1]", "[10,1]"))
  }

  test("mcount<K> counts distinct reachable in-neighbors") {
    // reachable-from-0 in-neighbor counts: group Y counts distinct X
    // (reachable) with arc(X,Y); node 0 seeds with a sentinel key
    val prog =
      "nb(X, mcount<S>) <- X=0, S= -1. " +
        "nb(Y, mcount<X>) <- nb(X, _), arc(X, Y)."
    // in graph1b every node has in-degree 1 from the reachable set
    // except 2 (from 0 and 1); sentinel gives node 0 count 1
    runCase(db + prog, "nb(N, C).",
      Map("arc" -> Fixtures.graph1b),
      Seq("[0,1]", "[1,1]", "[2,2]", "[3,1]", "[4,1]", "[5,1]",
        "[6,1]", "[7,1]", "[8,1]", "[9,1]", "[10,1]"))
  }

  test("global msum (no group columns) aggregates to one row") {
    // total number of paths from 0 to anywhere = sum over nodes of
    // path counts — via a stratified sum over the msum clique
    val prog =
      "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
        "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y). " +
        "total(sum<C>) <- cp(_, C)."
    // 1+1+2+2+2+2+1+1+1+1+1 = 15
    runCase(db + prog, "total(C).",
      Map("arc" -> Fixtures.graph1b), Seq("[15]"))
  }

  test("msum without the tuple form is rejected inside recursion") {
    val ctx = new DatalogContext(spark)
    val err = intercept[Exception] {
      ctx.loadProgram(db +
        "cp(X, msum<C>) <- X=0, C=1. cp(Y, msum<C>) <- cp(X, C), arc(X, Y).")
      ctx.registerData("arc", Fixtures.graph1b)
      ctx.query("cp(N, C).").count()
    }
    assert(err.getMessage.contains("msum"))
  }

  test("mcount<_> is rejected (undefined under set semantics)") {
    val ctx = new DatalogContext(spark)
    val err = intercept[Exception] {
      ctx.loadProgram(db +
        "nb(X, mcount<_>) <- X=0. nb(Y, mcount<_>) <- nb(Y, _), arc(_, Y).")
      ctx.registerData("arc", Fixtures.graph1b)
      ctx.query("nb(N, C).").count()
    }
    assert(err.getMessage.contains("mcount"))
  }

  test("countd<(A,B)> counts distinct pairs (reference functor flattening)") {
    // reference flattens functor args into the aggregate's expression
    // list (LogicalPlanGenerator.scala:284-297) — countd over a pair
    runCase(db + "pairs(countd<(X, Y)>) <- arc(X, Y).", "pairs(C).",
      Map("arc" -> (Fixtures.graph1b ++ Fixtures.graph1b)), // duplicated rows
      Seq("[11]"))
    // grouped variant: distinct (neighbor, neighbor+shape) per source
    runCase(db + "deg2(X, countd<(Y, Y)>) <- arc(X, Y).", "deg2(N, C).",
      Map("arc" -> Fixtures.graph1b),
      Seq("[0,3]", "[1,1]", "[2,1]", "[3,1]", "[4,1]",
        "[6,1]", "[7,1]", "[8,1]", "[9,1]"))
  }

  test("tuple argument on a non-tuple aggregate is rejected") {
    val ctx = new DatalogContext(spark)
    val err = intercept[Exception] {
      ctx.loadProgram(db + "m(min<(X, Y)>) <- arc(X, Y).")
      ctx.registerData("arc", Fixtures.graph1b)
      ctx.query("m(C).").count()
    }
    assert(err.getMessage.contains("tuple argument"))
  }

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("support copart path matches the legacy full-merge path (msum + mcount)") {
    def run(copart: String, prog: String, q: String): Set[String] =
      withConf("spark.datalog.recursion.copartition.enabled" -> copart) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db + prog)
        ctx.registerData("arc", Fixtures.graph1b)
        val r = ctx.queryStrings(q).toSet
        ctx.close()
        r
      }
    val msum =
      "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
        "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y)."
    val mcount =
      "nb(X, mcount<S>) <- X=0, S= -1. " +
        "nb(Y, mcount<X>) <- nb(X, _), arc(X, Y)."
    for ((prog, q) <- Seq(msum -> "cp(N, C).", mcount -> "nb(N, C).")) {
      val legacy = run("false", prog, q)
      assert(legacy.nonEmpty)
      assert(run("true", prog, q) == legacy, s"copart diverged for: $q")
    }
  }

  test("copart fragment-state support (r20) matches legacy keep-rewrite, " +
      "auto gates on the improvement profile") {
    def run(frag: String, prog: String, q: String): (Set[String], Int) =
      withConf(
        "spark.datalog.recursion.copartition.enabled" -> "true",
        "spark.datalog.recursion.support.fragmentstate" -> frag) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db + prog)
        ctx.registerData("arc", Fixtures.graph1b)
        val r = ctx.queryStrings(q).toSet
        val engaged = ctx.supportFragmentRuns
        ctx.close()
        (r, engaged)
      }
    val msum =
      "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
        "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y)."
    val mcount =
      "nb(X, mcount<S>) <- X=0, S= -1. " +
        "nb(Y, mcount<X>) <- nb(X, _), arc(X, Y)."
    for ((prog, q) <- Seq(msum -> "cp(N, C).", mcount -> "nb(N, C).")) {
      val (legacy, legacyRuns) = run("false", prog, q)
      assert(legacy.nonEmpty && legacyRuns == 0)
      val (frag, fragRuns) = run("true", prog, q)
      assert(fragRuns > 0, s"forced fragment mode never engaged for: $q")
      assert(frag == legacy, s"fragment-state diverged for: $q")
      val (auto, _) = run("auto", prog, q)
      assert(auto == legacy, s"auto mode diverged for: $q")
    }
    // the mcount shape's support GROWS (a new in-neighbor key per
    // improvement) — auto must pick fragments for it
    val (_, autoRuns) = run("auto", mcount, "nb(N, C).")
    assert(autoRuns > 0, "auto did not engage fragments on a growing-support shape")
  }

  test("driver-resident support path (supportlocal=auto) engages and " +
      "matches the relational loop") {
    def run(local: String, prog: String, q: String): (Set[String], Int) =
      withConf("spark.datalog.recursion.supportlocal" -> local) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db + prog)
        ctx.registerData("arc", Fixtures.graph1b)
        val r = ctx.queryStrings(q).toSet
        val runs = ctx.supportLocalRuns
        ctx.close()
        (r, runs)
      }
    val msum =
      "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
        "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y)."
    val mcount =
      "nb(X, mcount<S>) <- X=0, S= -1. " +
        "nb(Y, mcount<X>) <- nb(X, _), arc(X, Y)."
    for ((prog, q) <- Seq(msum -> "cp(N, C).", mcount -> "nb(N, C).")) {
      val (relational, relRuns) = run("false", prog, q)
      val (driver, drvRuns) = run("auto", prog, q)
      assert(relRuns == 0 && drvRuns == 1,
        s"driver support path engagement wrong for: $q ($relRuns, $drvRuns)")
      assert(driver == relational && driver.nonEmpty,
        s"driver support path diverged for: $q")
    }
  }

  test("supportlocal overflow bails mid-loop to the relational path") {
    val prog =
      "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
        "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y)."
    def run(kvs: (String, String)*): (Set[String], Int, Seq[(String, Int, Long)]) =
      withConf(kvs :+ ("spark.datalog.recursion.collectstats" -> "true"): _*) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db + prog)
        ctx.registerData("arc", Fixtures.graph1b)
        val r = ctx.queryStrings("cp(N, C).").toSet
        val runs = ctx.supportLocalRuns
        val rounds = ctx.iterationStats.map(s => (s._1, s._2, s._3))
        ctx.close()
        (r, runs, rounds)
      }
    val (relational, _, _) =
      run("spark.datalog.recursion.supportlocal" -> "false")
    val (driver, _, driverRounds) =
      run("spark.datalog.recursion.supportlocal" -> "auto")
    assert(driver == relational && driver.nonEmpty)
    // a 4-entry cap (the one cap, monotoniclocal.autoentries): the
    // driver path engages, overflows mid-loop, and the relational loop
    // must still produce the exact fixpoint
    val (bailed, bailedRuns, _) = run(
      "spark.datalog.recursion.supportlocal" -> "auto",
      "spark.datalog.recursion.monotoniclocal.autoentries" -> "4")
    assert(bailedRuns == 1, "driver path never engaged before the bail")
    assert(bailed == relational,
      "overflow bail diverged from the relational loop")
    // the retired support caps are no-ops: at 4 the driver path still
    // runs every round it runs at defaults, and nothing after them
    val (retired, retiredRuns, retiredRounds) = run(
      "spark.datalog.recursion.supportlocal" -> "auto",
      "spark.datalog.recursion.supportlocal.maxentries" -> "4",
      "spark.datalog.recursion.supportlocal.autoentries" -> "4")
    assert(retiredRuns == 1 && retired == relational)
    assert(retiredRounds == driverRounds && driverRounds.nonEmpty,
      s"retired keys changed the driver rounds: $retiredRounds vs $driverRounds")
  }

  test("a support seed over the cap bails before any static is collected") {
    // every arc seeds one support row: 11 seed rows, over a cap of 4
    val prog =
      "nb(X, mcount<S>) <- arc(S, X). " +
        "nb(Y, mcount<X>) <- nb(X, _), arc(X, Y)."
    def run(kvs: (String, String)*) = withConf(kvs: _*) {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + prog)
      ctx.registerData("arc", Fixtures.graph1b)
      val r = ctx.queryStrings("nb(N, C).").toSet
      val peak = ctx.staticCollectPeakRows
      val runs = ctx.supportLocalRuns
      ctx.close()
      (r, peak, runs)
    }
    val (relational, _, _) = run("spark.datalog.recursion.supportlocal" -> "false")
    // under the default cap the shape runs driver-resident and collects arc
    val (driver, driverPeak, driverRuns) =
      run("spark.datalog.recursion.supportlocal" -> "auto")
    assert(driverRuns == 1 && driverPeak == Fixtures.graph1b.size)
    assert(driver == relational && driver.nonEmpty)
    val (bailed, peak, _) = run(
      "spark.datalog.recursion.supportlocal" -> "auto",
      "spark.datalog.recursion.monotoniclocal.autoentries" -> "4")
    assert(bailed == relational, "the seed-cap bail diverged from the relational loop")
    assert(peak == 0, s"$peak static rows reached the driver before the seed bail")
  }

  test("support copart iterations shuffle only the delta-sized candidate agg") {
    withConf(
      "spark.datalog.recursion.copartition.enabled" -> "true",
      "spark.datalog.recursion.logplans" -> "true") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db +
        "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
        "cp(Y, msum<(X, C)>) <- cp(X, C), arc(X, Y).")
      ctx.registerData("arc", Fixtures.graph1b)
      ctx.query("cp(N, C).").count()
      val log = ctx.iterationPlanLog
      assert(log.nonEmpty)
      // the improved-support plan per iteration carries the candidates'
      // (G,K) aggregation + repartition(G) — both delta-sized; the
      // support merge join itself must add NO state-sized exchange.
      // Iteration 1 is exempt: the seed support predates the one-time
      // int→long widening, so its claim is re-established there (same
      // exemption as the monotonic copart audit).
      val over = log.filter(e => e._2 >= 2 && e._3 > 2)
      assert(over.isEmpty,
        s"iterations with >2 shuffles: ${over.map(e => (e._1, e._2, e._3))}\n" +
          over.headOption.map(_._4).getOrElse(""))
      ctx.close()
    }
  }

  test("stratified mcount outside recursion counts distinct keys") {
    runCase(db + "deg(X, mcount<Y>) <- arc(X, Y).", "deg(N, C).",
      Map("arc" -> (Fixtures.graph1b :+ "0,1")), // duplicate edge
      Seq("[0,3]", "[1,1]", "[2,1]", "[3,1]", "[4,1]",
        "[6,1]", "[7,1]", "[8,1]", "[9,1]"))
  }
}
