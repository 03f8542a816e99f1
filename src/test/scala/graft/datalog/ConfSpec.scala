package graft.datalog

import org.scalatest.funsuite.AnyFunSuite

/** `spark.datalog.*` conf knobs (reference README conf table). */
class ConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val db = "database({arc(X:integer, Y:integer)})."
  private val tc =
    "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B)."

  test("jointype hints produce identical fixpoint results") {
    val expected = withConf() {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + tc)
      ctx.registerData("arc", Fixtures.graph1b)
      ctx.queryStrings("tc(A,B).").toSet
    }
    for (jt <- Seq("broadcast", "shuffle", "sortmerge")) {
      val rows = withConf("spark.datalog.jointype" -> jt) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db + tc)
        ctx.registerData("arc", Fixtures.graph1b)
        ctx.queryStrings("tc(A,B).").toSet
      }
      assert(rows == expected, s"jointype=$jt changed results")
    }
  }

  test("copartition dedup and legacy except produce identical fixpoints") {
    def tcRows(copart: String): Set[String] =
      withConf("spark.datalog.recursion.copartition.enabled" -> copart,
        // force distributed slices so the chain path is exercised
        "spark.datalog.recursion.localDeltaRows" -> "0") {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db + tc)
        ctx.registerData("arc", Fixtures.graph1b)
        ctx.queryStrings("tc(A,B).").toSet
      }
    assert(tcRows("true") == tcRows("false"))
  }

  test("monotonic-aggregate copart path matches the tagged-union path") {
    val db3 = "database({warc(X:integer, Y:integer, C:integer)})."
    val prog = "mp(X,mmin<D>) <- X=0, D=0. " +
      "mp(Y,mmin<D>) <- mp(X,D1), warc(X,Y,C), D=D1+C."
    def sssp(copart: String): Set[String] =
      withConf("spark.datalog.recursion.copartition.enabled" -> copart) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db3 + prog)
        ctx.registerData("warc", Fixtures.graph1bWeighted)
        val r = ctx.queryStrings("mp(A,D).").toSet
        ctx.close()
        r
      }
    val legacy = sssp("false")
    assert(legacy.nonEmpty)
    assert(sssp("true") == legacy)
  }

  test("monotonic copart iterations shuffle only the delta-sized candidate agg") {
    val db3 = "database({warc(X:integer, Y:integer, C:integer)})."
    val prog = "mp(X,mmin<D>) <- X=0, D=0. " +
      "mp(Y,mmin<D>) <- mp(X,D1), warc(X,Y,C), D=D1+C."
    withConf(
      "spark.datalog.recursion.copartition.enabled" -> "true",
      "spark.datalog.recursion.logplans" -> "true") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db3 + prog)
      ctx.registerData("warc", Fixtures.graph1bWeighted)
      ctx.query("mp(A,D).").count()
      val log = ctx.iterationPlanLog
      assert(log.nonEmpty)
      // from iteration 2 on (once state ≠ delta), the candidate groupBy
      // is the one delta-sized exchange; the state merge joins and the
      // narrow-unioned state reuse the claimed layout with no shuffle
      val over = log.filter(e => e._2 >= 2 && e._3 > 1)
      assert(over.isEmpty,
        s"iterations with >1 shuffle: ${over.map(e => (e._1, e._2, e._3))}\n" +
          over.headOption.map(_._4).getOrElse(""))
      ctx.close()
    }
  }

  test("uniondistinct.enabled=false yields bag semantics for multi-rule unions") {
    // p derives 0 from both rules: set semantics → 1 row, bag → 2 rows
    val prog = "p(X) <- arc(X,1). p(X) <- arc(X,2)."
    val data = Seq("0,1", "0,2")
    val setRows = withConf() {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + prog)
      ctx.registerData("arc", data)
      ctx.query("p(A).").count()
    }
    val bagRows = withConf("spark.datalog.uniondistinct.enabled" -> "false") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + prog)
      ctx.registerData("arc", data)
      ctx.query("p(A).").count()
    }
    assert(setRows == 1L && bagRows == 2L)
  }

  test("maxIterations guard fires on deep recursion") {
    val chain = (0 until 30).map(i => s"$i,${i + 1}")
    val err = intercept[Exception] {
      withConf("spark.datalog.recursion.maxIterations" -> "5") {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(db + tc)
        ctx.registerData("arc", chain)
        ctx.query("tc(A,B).").count()
      }
    }
    assert(err.getMessage.contains("5 iterations"))
  }

  test("collectstats records per-iteration rows and wall time") {
    val chain = (0 until 6).map(i => s"$i,${i + 1}")
    val stats = withConf("spark.datalog.recursion.collectstats" -> "true") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + tc)
      ctx.registerData("arc", chain)
      assert(ctx.query("tc(A,B).").count() == 21L)
      ctx.iterationStats
    }
    assert(stats.nonEmpty)
    // iterations are recorded in order, 1-based, with sane row counts
    assert(stats.map(_._2) == (1 to stats.length))
    assert(stats.forall { case (p, _, rows, ms) =>
      p == "tc" && rows >= 0 && ms >= 0
    })
    // delta rows: 6 base edges -> 5 length-2 paths -> ... -> converging
    assert(stats.head._3 == 5L && stats.map(_._3).sum == 15L)
    // default off: nothing recorded
    val ctx2 = new DatalogContext(spark)
    ctx2.loadProgram(db + tc)
    ctx2.registerData("arc", chain)
    ctx2.query("tc(A,B).").count()
    assert(ctx2.iterationStats.isEmpty)
  }

  test("collectstats surfaces nested magic-set fixpoint iterations") {
    val chain = (0 until 4).map(i => s"$i,${i + 1}")
    val stats = withConf("spark.datalog.recursion.collectstats" -> "true") {
      val ctx = new DatalogContext(spark)
      // right-linear: the bound query runs through a nested magic program
      ctx.loadProgram(db + "tc(A,B) <- arc(A,B). tc(A,B) <- arc(A,C), tc(C,B).")
      ctx.registerData("arc", chain)
      assert(ctx.query("tc(0,B).").count() == 4L)
      assert(ctx.lastBoundPushdown)
      ctx.iterationStats
    }
    assert(stats.exists(_._1 == "tc"),
      s"nested fixpoint stats must surface through the outer evaluator: $stats")
  }

  test("reference conf keys are accepted and mapped, not silently ignored") {
    // recursion.version maps onto the copartition mode (v1 = legacy
    // except shuffle, v2/v3 = partition-aware slice chain)
    withConf("spark.datalog.recursion.version" -> "1") {
      assert(DatalogConf.from(spark).copartitionMode == "false")
    }
    withConf("spark.datalog.recursion.version" -> "2") {
      assert(DatalogConf.from(spark).copartitionMode == "true")
    }
    // the explicit native key wins over the mapped reference key
    withConf("spark.datalog.recursion.version" -> "2",
      "spark.datalog.recursion.copartition.enabled" -> "false") {
      assert(DatalogConf.from(spark).copartitionMode == "false")
    }
    // no-op acceptances still produce a mapping note each
    withConf("spark.datalog.shuffledistinct.enabled" -> "true",
      "spark.datalog.monotonicaggregate.usepartial" -> "true",
      "spark.datalog.recursion.memorycheckpoint" -> "true",
      "spark.datalog.recursion.iterateinfixedpointresulttask" -> "true",
      "spark.datalog.aggregaterecursion.version" -> "2",
      "spark.datalog.shufflehashjoin.cachebuildside" -> "true") {
      val notes = DatalogConf.referenceMappings(spark)
      for (key <- Seq("shuffledistinct", "monotonicaggregate",
        "memorycheckpoint", "iterateinfixedpointresulttask",
        "aggregaterecursion.version", "cachebuildside"))
        assert(notes.exists(_.contains(key)), s"$key: ${notes.mkString("; ")}")
    }
    // and the mapped mode actually engages: under version=2 the fixpoint
    // runs the copartition (claimed-slice) path end-to-end
    val rows = withConf("spark.datalog.recursion.version" -> "2",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + tc)
      ctx.registerData("arc", Fixtures.graph1b)
      val r = ctx.queryStrings("tc(A,B).").toSet
      assert(ctx.lastPivot.nonEmpty,
        "copartition pivot bookkeeping did not engage under recursion.version=2")
      r
    }
    assert(rows.nonEmpty)
  }

  test("retired bloom pre-filter keys warn once and leave the TC answer unchanged") {
    val forced = Seq(
      "spark.datalog.recursion.copartition.enabled" -> "true",
      "spark.datalog.recursion.diffflip" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0")
    def tcRows(kvs: (String, String)*): Set[String] = withConf(forced ++ kvs: _*) {
      val ctx = new DatalogContext(spark)
      try {
        ctx.loadProgram(db + tc)
        ctx.registerData("arc", Fixtures.graph1b)
        ctx.queryStrings("tc(A,B).").toSet
      } finally ctx.close()
    }
    val expected = tcRows()
    assert(expected.nonEmpty)
    for ((k, v) <- Seq(
        "spark.datalog.recursion.bloomprefilter" -> "true",
        "spark.datalog.recursion.bloomprefilter.minrows" -> "4",
        "spark.datalog.recursion.bloomprefilter.expecteditems" -> "1024",
        "spark.datalog.recursion.bloomprefilter.fpp" -> "0.5",
        // values no other suite sets: the note is printed once per JVM
        "spark.datalog.recursion.monotoniclocal.maxentries" -> "17",
        "spark.datalog.recursion.supportlocal.maxentries" -> "17",
        "spark.datalog.recursion.supportlocal.autoentries" -> "17",
        "spark.datalog.recursion.localiterate.maxstaticrows" -> "17",
        "spark.datalog.recursion.localiterate.autoseedrows" -> "17")) {
      val captured = new java.io.ByteArrayOutputStream()
      val err = System.err
      System.setErr(new java.io.PrintStream(captured, true))
      // two queries: the note is printed once, not once per evaluator
      val rows = try { tcRows(k -> v); tcRows(k -> v) } finally System.setErr(err)
      val notes = captured.toString.linesIterator.filter(_.contains(s"$k=$v")).toSeq
      assert(notes.size == 1, s"$k: ${notes.mkString("; ")}")
      assert(notes.head.contains("retired"), notes.head)
      assert(rows == expected, s"$k=$v changed the answer")
    }
  }

  test("DatalogConf holds 23 knobs") {
    // one field per conf key: a new knob needs the evidence ROADMAP
    // direction 3 asks for (one economic cap rule, not more switches)
    assert(DatalogConf().productArity == 23,
      "DatalogConf grew or shrank; update ROADMAP direction 3's field count")
  }
}
