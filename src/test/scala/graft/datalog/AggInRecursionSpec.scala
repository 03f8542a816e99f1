package graft.datalog

/** Golden answers mirrored from the reference's
  * AggregatesInRecursionQuerySuite (monotonic mmin/mmax inside recursion)
  * and AggregatesOverRecursionQuerySuite (stratified min above a
  * recursive clique). */
class AggInRecursionDatalogSpec extends DatalogSuite {
  val database = "database({arc(X:integer, Y:integer, D:integer)})."

  val sp1 = Seq("[0,1,1]", "[1,2,1]", "[2,3,1]", "[3,4,1]", "[4,5,1]", "[0,6,1]",
    "[6,7,1]", "[7,8,1]", "[8,9,1]", "[9,10,1]", "[0,2,2]", "[1,3,2]", "[2,4,2]",
    "[3,5,2]", "[0,7,2]", "[6,8,2]", "[7,9,2]", "[8,10,2]", "[0,3,3]", "[1,4,3]",
    "[2,5,3]", "[0,8,3]", "[6,9,3]", "[7,10,3]", "[0,4,4]", "[1,5,4]", "[0,9,4]",
    "[6,10,4]", "[0,5,5]", "[0,10,5]")

  val sp2 = Seq("[0,1,1]", "[0,2,1]", "[1,3,1]", "[1,4,1]", "[2,5,1]", "[2,6,1]",
    "[3,7,1]", "[3,8,1]", "[4,9,1]", "[4,10,1]", "[5,11,1]", "[5,12,1]", "[6,13,1]",
    "[6,14,1]", "[0,3,2]", "[0,4,2]", "[0,5,2]", "[0,6,2]", "[1,7,2]", "[1,8,2]",
    "[1,9,2]", "[1,10,2]", "[2,11,2]", "[2,12,2]", "[2,13,2]", "[2,14,2]",
    "[0,7,3]", "[0,8,3]", "[0,9,3]", "[0,10,3]", "[0,11,3]", "[0,12,3]",
    "[0,13,3]", "[0,14,3]")

  val sp3 = Seq("[2,1,1]", "[0,2,1]", "[0,1,2]")
  val sp4 = Seq("[0,1,1]", "[0,2,1]", "[1,2,1]")

  test("mmin shortest paths - left-linear") {
    val program = "mminpath(X,Y,mmin<D>) <- arc(X, Y, D)." +
      "mminpath(X,Z,mmin<D>) <- mminpath(X, Y, D1), arc(Y, Z, D2), D = D1 + D2." +
      "shortestpaths(X, Z, min<D>) <- mminpath(X, Z, D)."
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph1bWeighted), sp1)
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph3Weighted), sp2)
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph4Weighted), sp3)
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph5Weighted), sp4)
  }

  test("mmin shortest paths - non-linear") {
    val program = "mminpath(X,Y,mmin<D>) <- arc(X, Y, D)." +
      "mminpath(X,Z,mmin<D>) <- mminpath(X, Y, D1), mminpath(Y, Z, D2), D = D1 + D2." +
      "shortestpaths(X, Z, min<D>) <- mminpath(X, Z, D)."
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph1bWeighted), sp1)
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph3Weighted), sp2)
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph4Weighted), sp3)
    runCase(database + program, "shortestpaths(A,B,C)",
      Map("arc" -> Fixtures.graph5Weighted), sp4)
  }

  test("single-source shortest paths with tuple seed") {
    def program(startVertex: Int) =
      s"mminpath(X,mmin<D>) <- X=$startVertex,D=0." +
        "mminpath(Z,mmin<D>) <- mminpath(X, D1), arc(X, Z, D2), D = D1 + D2." +
        "sssp(X,min<D>) <- mminpath(X,D)."
    runCase(database + program(0), "sssp(A,B)",
      Map("arc" -> Fixtures.graph1bWeighted),
      Seq("[0,0]", "[1,1]", "[2,2]", "[3,3]", "[4,4]", "[5,5]", "[6,1]", "[7,2]",
        "[8,3]", "[9,4]", "[10,5]"))
    runCase(database + program(1), "sssp(A,B)",
      Map("arc" -> Fixtures.graph3Weighted),
      Seq("[1,0]", "[3,1]", "[4,1]", "[7,2]", "[8,2]", "[9,2]", "[10,2]"))
    runCase(database + program(0), "sssp(A,B)",
      Map("arc" -> Fixtures.graph4Weighted),
      Seq("[0,0]", "[1,2]", "[2,1]"))
  }

  test("connected components via mmin (Graph1b)") {
    val db = "database({arc(X:integer, Y:integer)})."
    val program = "cc3(X,mmin<X>) <- arc(X,_)." +
      "cc3(Y,mmin<V>) <- cc3(X,V), arc(X,Y)." +
      "cc2(X,min<Y>) <- cc3(X,Y)." +
      "cc(countd<X>) <- cc2(_,X)."
    runCase(db + program, "cc(A)", Map("arc" -> Fixtures.graph1b), Seq("[1]"))
  }

  test("connected components via mmin (tree11: 1320 components)") {
    // a seeded forest of the reference's tree11 size: 71,390 edge rows
    // (35,695 undirected tree edges, both directions) in exactly 1320
    // trees by construction (AggregatesInRecursionQuerySuite.scala:94)
    val forest = GeneratedGraphs.forest(nodes = 37015, trees = 1320, seed = 11L)
    assert(forest.size == 71390)
    assert(GeneratedGraphs.components(forest) == 1320)
    val edges = forest.map { case (a, b) => s"$a,$b" }
    val db = "database({arc(X:integer, Y:integer)})."
    val program = "cc3(X,mmin<X>) <- arc(X,_)." +
      "cc3(Y,mmin<V>) <- cc3(X,V), arc(X,Y)." +
      "cc2(X,min<Y>) <- cc3(X,Y)." +
      "cc(countd<X>) <- cc2(_,X)."
    runCase(db + program, "cc(A)", Map("arc" -> edges), Seq("[1320]"))
  }
}

/** Stratified aggregates over recursion
  * (AggregatesOverRecursionQuerySuite, RecursiveQuerySuites.scala:191-258). */
class AggOverRecursionDatalogSpec extends DatalogSuite {
  val database = "database({arc(From:integer, To:integer, D:integer)})."

  val sp1 = (new AggInRecursionDatalogSpec).sp1
  val sp2 = (new AggInRecursionDatalogSpec).sp2

  test("stratified min over recursive paths - LL") {
    val program = "path(X,Y,C) <- arc(X,Y,C)." +
      "path(X,Y,C) <- path(X,Z,C1), arc(Z,Y,C2), C=C1+C2." +
      "stratified_shortest_path(X,Y,min<C>) <- path(X,Y,C)."
    runCase(database + program, "stratified_shortest_path(A,B,C)",
      Map("arc" -> Fixtures.graph1bWeighted), sp1)
    runCase(database + program, "stratified_shortest_path(A,B,C)",
      Map("arc" -> Fixtures.graph3Weighted), sp2)
  }

  test("stratified min over recursive paths - RL") {
    val program = "path(X,Y,C) <- arc(X,Y,C)." +
      "path(X,Y,C) <- arc(X,Z,C1), path(Z,Y,C2), C=C1+C2." +
      "stratified_shortest_path(X,Y,min<C>) <- path(X,Y,C)."
    runCase(database + program, "stratified_shortest_path(A,B,C)",
      Map("arc" -> Fixtures.graph1bWeighted), sp1)
  }

  test("stratified min over recursive paths - NL") {
    val program = "path(X,Y,C) <- arc(X,Y,C)." +
      "path(X,Y,C) <- path(X,Z,C1), path(Z,Y,C2), C=C1+C2." +
      "stratified_shortest_path(X,Y,min<C>) <- path(X,Y,C)."
    runCase(database + program, "stratified_shortest_path(A,B,C)",
      Map("arc" -> Fixtures.graph1bWeighted), sp1)
  }

  test("stratified min over recursion - bound first argument") {
    val program = "path(X,Y,C) <- arc(X,Y,C)." +
      "path(X,Y,C) <- path(X,Z,C1), arc(Z,Y,C2), C=C1+C2." +
      "stratified_shortest_path(X,Y,min<C>) <- path(X,Y,C)."
    runCase(database + program, "stratified_shortest_path(0,B,C)",
      Map("arc" -> Fixtures.graph1bWeighted),
      Seq("[0,1,1]", "[0,6,1]", "[0,2,2]", "[0,7,2]", "[0,3,3]", "[0,8,3]",
        "[0,4,4]", "[0,9,4]", "[0,5,5]", "[0,10,5]"))
    runCase(database + program, "stratified_shortest_path(2,B,C)",
      Map("arc" -> Fixtures.graph3Weighted),
      Seq("[2,5,1]", "[2,6,1]", "[2,11,2]", "[2,12,2]", "[2,13,2]", "[2,14,2]"))
  }

  test("driver-resident monotonic path (monotoniclocal=auto) engages, " +
      "matches the looped path, and bails on overflow") {
    val program = "mminpath(X,Y,mmin<D>) <- arc(X, Y, D)." +
      "mminpath(X,Z,mmin<D>) <- mminpath(X, Y, D1), arc(Y, Z, D2), D = D1 + D2." +
      "shortestpaths(X, Z, min<D>) <- mminpath(X, Z, D)."
    def run(kvs: (String, String)*): (Set[String], Int) = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(database + program)
        ctx.registerData("arc", Fixtures.graph1bWeighted)
        val r = ctx.queryStrings("shortestpaths(A,B,C)").toSet
        val runs = ctx.monotonicLocalRuns
        ctx.close()
        (r, runs)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val (looped, loopedRuns) =
      run("spark.datalog.recursion.monotoniclocal" -> "false")
    val (driver, driverRuns) =
      run("spark.datalog.recursion.monotoniclocal" -> "auto")
    assert(loopedRuns == 0 && driverRuns == 1,
      s"driver monotonic engagement wrong ($loopedRuns, $driverRuns)")
    assert(driver == looped && driver.nonEmpty)
    // the retired memory cap (maxentries) is a no-op: at 20, under the
    // final state's 30 pairs, the driver path still runs to the answer
    val (retired, retiredRuns) = run(
      "spark.datalog.recursion.monotoniclocal" -> "auto",
      "spark.datalog.recursion.monotoniclocal.maxentries" -> "20")
    assert(retiredRuns == 1, "the retired key stopped the driver path")
    assert(retired == looped, "the retired key changed the answer")
    // the one cap (autoentries, default 256k) between the seed size
    // (~15 arc pairs) and the final state (30 pairs): the driver path
    // engages, overflows mid-loop, and the looped path must still
    // produce the exact fixpoint — the driver loop loses to the
    // distributed merge long before driver memory is at risk (sf1.0:
    // 1.1M-entry APSP driver 13.4s vs looped 6.8s)
    val (eco, ecoRuns) = run(
      "spark.datalog.recursion.monotoniclocal" -> "auto",
      "spark.datalog.recursion.monotoniclocal.autoentries" -> "20")
    assert(ecoRuns == 1, "driver path never engaged before the economic bail")
    assert(eco == looped, "autoentries bail diverged from the looped path")
  }
}
