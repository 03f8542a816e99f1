package graft.datalog

import org.scalatest.funsuite.AnyFunSuite

/** Within-task local fixpoint for decomposable programs
  * (`spark.datalog.recursion.localiterate` — the Spark-native analog
  * of the reference's FixedPointResultTask.scala:56-103): a
  * partition-closed linear recursion runs to fixpoint inside ONE
  * mapPartitions wave. Asserts result equivalence against the looped
  * evaluator, a job count far below the iteration count, and the
  * conservative fallbacks for ineligible shapes. */
class LocalIterateSpec extends AnyFunSuite {
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
  private val llTc = "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B)."
  // a 40-deep chain (40 looped iterations) + a fan so partitions carry
  // different amounts of local work
  private val arcs =
    (0 until 40).map(i => s"$i,${i + 1}") ++
    (1 until 32).map(i => s"${i / 2 + 1000},${i + 1000}") ++
    Seq("40,1000")

  private def countJobs[T](f: => T): (T, Int) = {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      Thread.sleep(500) // listener bus is async; let job-start events drain
      (r, jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def parseRow(s: String): Seq[String] =
    s.stripPrefix("[").stripSuffix("]").split(",").toSeq

  private def runTc(confs: (String, String)*): (Set[Seq[String]], Int, Int) =
    withConf(confs: _*) {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + llTc)
      ctx.registerData("arc", arcs)
      val (rows, jobs) = countJobs(ctx.queryStrings("tc(A,B).").toSet)
      (rows.map(parseRow), jobs, ctx.localIterateRuns)
    }

  private lazy val expected = runTc()._1

  test("eligible TC runs in one task wave: same rows, O(1) jobs") {
    val (rows, jobs, runs) = runTc(
      "spark.datalog.recursion.localiterate" -> "true",
      // force the distributed path so the job-count claim is about
      // localiterate, not the driver-resident frontier
      "spark.datalog.recursion.localDeltaRows" -> "0")
    assert(runs == 1, "localiterate did not engage")
    assert(rows == expected)
    // 40 looped iterations would schedule >= 40 jobs; the task-local
    // fixpoint needs only seed materialization + static collect + the
    // wave itself (a handful with AQE stages)
    assert(jobs <= 10, s"expected a single task wave, saw $jobs jobs")
  }

  test("looped distributed path on the same data needs ~iteration-count jobs") {
    val (rows, jobs, runs) = runTc(
      "spark.datalog.recursion.localiterate" -> "false",
      "spark.datalog.recursion.localDeltaRows" -> "0")
    assert(runs == 0)
    assert(rows == expected)
    assert(jobs > 30, s"looped path unexpectedly cheap: $jobs jobs")
  }

  test("bound query seeds the wave and stays partition-closed") {
    val (rows, runs) = withConf(
      "spark.datalog.recursion.localiterate" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + llTc)
      ctx.registerData("arc", arcs)
      (ctx.queryStrings("tc(0,B).").toSet, ctx.localIterateRuns)
    }
    val want = expected.filter(_.head == "0").map(_.last)
    assert(rows.map(s => parseRow(s).last) == want)
    assert(rows.nonEmpty && runs >= 1)
  }

  test("the dl_tc_localiter gate shape (3-ary arc, wildcard cost) engages") {
    val (rows, runs) = withConf(
      "spark.datalog.recursion.localiterate" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram("database({arc(X:long, Y:long, C:long)})." +
        "tcl(A,B) <- arc(A,B,_). tcl(A,B) <- tcl(A,C), arc(C,B,_).")
      ctx.registerData("arc", (0 until 12).map(i => s"$i,${i + 1},2"))
      (ctx.queryStrings("tcl(A,B).").toSet, ctx.localIterateRuns)
    }
    assert(runs == 1, "gate program shape did not take the localiterate path")
    assert(rows.size == 13 * 12 / 2)
  }

  test("empty seed (bound query with no matching facts) yields an empty wave") {
    val rows = withConf(
      "spark.datalog.recursion.localiterate" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + llTc)
      ctx.registerData("arc", arcs)
      ctx.queryStrings("tc(99999,B).")
    }
    assert(rows.isEmpty)
  }

  test("multi-static linear rules (2-hop TC) run in the wave and match the looped path") {
    // p extends by TWO arc hops per recursive application: one rec atom
    // + two static atoms chained through D — the generalized
    // decomposable shape (still partition-closed on A)
    val prog = "p(A,B) <- arc(A,B). " +
      "p(A,B) <- p(A,C), arc(C,D), arc(D,B)."
    def run(localiter: String) = withConf(
      "spark.datalog.recursion.localiterate" -> localiter,
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + prog)
      ctx.registerData("arc", arcs)
      (ctx.queryStrings("p(A,B).").toSet, ctx.localIterateRuns)
    }
    val (looped, loopedRuns) = run("false")
    val (wave, waveRuns) = run("true")
    assert(loopedRuns == 0 && waveRuns == 1, "2-hop shape did not engage")
    assert(wave == looped && wave.nonEmpty)
  }

  test("repeated variable across static atoms constrains the wave correctly") {
    // self-loop detector: step to C, then require an arc C->C… via the
    // shared var C appearing in both static atoms' key positions
    val prog = "q(A,B) <- arc(A,B). " +
      "q(A,B) <- q(A,C), arc(C,B), arc(B,C)."
    def run(localiter: String) = withConf(
      "spark.datalog.recursion.localiterate" -> localiter,
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + prog)
      // a chain plus one 2-cycle 50<->51 that the second atom requires
      ctx.registerData("arc",
        (0 until 6).map(i => s"$i,${i + 1}") ++ Seq("6,50", "50,51", "51,50"))
      (ctx.queryStrings("q(A,B).").toSet, ctx.localIterateRuns)
    }
    val (looped, _) = run("false")
    val (wave, waveRuns) = run("true")
    assert(waveRuns == 1)
    assert(wave == looped && wave.nonEmpty)
  }

  test("ineligible shapes fall back: non-linear, comparisons, negation") {
    def run(program: String, query: String) = withConf(
      "spark.datalog.recursion.localiterate" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + program)
      ctx.registerData("arc", (0 until 8).map(i => s"$i,${i + 1}"))
      (ctx.queryStrings(query).toSet, ctx.localIterateRuns)
    }
    // non-linear TC: two recursive atoms
    val (nl, nlRuns) =
      run("tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), tc(C,B).", "tc(A,B).")
    assert(nlRuns == 0 && nl.size == 9 * 8 / 2)
    // comparison in the recursive rule body
    val (cmp, cmpRuns) = run(
      "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B), B > 2.", "tc(A,B).")
    assert(cmpRuns == 0 && cmp.nonEmpty)
    // arithmetic head (not a plain variable projection)
    val (ar, arRuns) = run(
      "up(A,B) <- arc(A,B). up(A,C) <- up(A,B), arc(B,Bp), C = Bp + 0.",
      "up(A,B).")
    assert(arRuns == 0 && ar.nonEmpty)
  }

  test("monotonic (mmin) SSSP runs in one task wave: same rows, job-count drop") {
    val wdb = "database({warc(X:long, Y:long, C:long)})."
    val prog = "sp(X,mmin<D>) <- X=0, D=0. " +
      "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D=D1+C. " +
      "out(X,min<D>) <- sp(X,D)."
    // 30-deep chain with a shortcut every 5 hops (improvements arrive
    // late, so the looped path runs many iterations) + a costly branch
    val wedges =
      (0 until 30).map(i => s"$i,${i + 1},3") ++
      (0 until 6).map(i => s"${5 * i},${5 * (i + 1)},10") ++
      Seq("0,100,50", "100,30,1")
    // monotoniclocal=false on BOTH sides: the job-count claim compares
    // the task wave against the truly LOOPED path (the driver-resident
    // path, default auto, schedules even fewer jobs — its own spec is
    // in AggInRecursionSpec)
    def run(localiter: String) = withConf(
      "spark.datalog.recursion.localiterate" -> localiter,
      "spark.datalog.recursion.monotoniclocal" -> "false") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(wdb + prog)
      ctx.registerData("warc", wedges)
      val (rows, jobs) = countJobs(ctx.queryStrings("out(A,D).").toSet)
      (rows, jobs, ctx.localIterateMonoRuns)
    }
    val (looped, loopedJobs, loopedRuns) = run("false")
    val (wave, waveJobs, waveRuns) = run("true")
    assert(loopedRuns == 0 && waveRuns == 1, "mmin shape did not engage")
    assert(wave == looped && wave.nonEmpty)
    assert(waveJobs < loopedJobs,
      s"expected fewer jobs than the looped path ($waveJobs vs $loopedJobs)")
    // +1 vs the r18 budget: the economic seed-ceiling probe
    // (localiterate.autoseedrows, r19) is one partial-agg count job
    assert(waveJobs <= 11, s"expected a single task wave, saw $waveJobs jobs")
  }

  test("monotonic multi-seed APSP (every edge seeds) engages and matches") {
    val wdb = "database({warc(X:long, Y:long, C:long)})."
    val prog = "ap(X,Y,mmin<C>) <- warc(X,Y,C). " +
      "ap(X,Z,mmin<D>) <- ap(X,Y,D1), warc(Y,Z,C), D=D1+C. " +
      "o(X,Y,min<D>) <- ap(X,Y,D)."
    // two chains + a costly shortcut; seeds land in many partitions
    val wedges = (0 until 12).map(i => s"$i,${i + 1},2") ++
      (0 until 10).map(i => s"${i + 50},${i + 51},5") ++ Seq("0,5,20")
    def run(localiter: String) = withConf(
      "spark.datalog.recursion.localiterate" -> localiter) {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(wdb + prog)
      ctx.registerData("warc", wedges)
      (ctx.queryStrings("o(A,B,D).").toSet, ctx.localIterateMonoRuns)
    }
    val (looped, loopedRuns) = run("false")
    val (wave, waveRuns) = run("true")
    assert(loopedRuns == 0 && waveRuns == 1)
    assert(wave == looped && wave.nonEmpty)
  }

  test("monotonic ineligible shapes fall back to the looped paths") {
    val wdb = "database({warc(X:long, Y:long, C:long)})."
    val wedges = (0 until 8).map(i => s"$i,${i + 1},2")
    def run(prog: String, q: String) = withConf(
      "spark.datalog.recursion.localiterate" -> "true") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(wdb + prog)
      ctx.registerData("warc", wedges)
      (ctx.queryStrings(q).toSet, ctx.localIterateMonoRuns)
    }
    // division is not exactly replayable task-locally -> fallback
    val (dv, dvRuns) = run(
      "sp(X,mmin<D>) <- X=0, D=0. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D=D1+C/C. " +
        "o1(X,min<D>) <- sp(X,D).", "o1(A,D).")
    assert(dvRuns == 0 && dv.nonEmpty)
    // non-linear monotonic recursion (two recursive atoms) -> fallback
    val (nl2, nl2Runs) = run(
      "sp(X,Y,mmin<D>) <- warc(X,Y,D). " +
        "sp(X,Z,mmin<D>) <- sp(X,Y,D1), sp(Y,Z,D2), D=D1+D2. " +
        "o2(X,Y,min<D>) <- sp(X,Y,D).", "o2(A,B,D).")
    assert(nl2Runs == 0 && nl2.nonEmpty)
  }

  test("monotonic mmax with filters engages and matches the looped path") {
    val wdb = "database({warc(X:long, Y:long, C:long)})."
    // longest path on a DAG with an edge filter C < 9 in the rule body
    val prog = "lp(X,mmax<D>) <- X=0, D=0. " +
      "lp(Z,mmax<D>) <- lp(X,D1), warc(X,Z,C), C < 9, D=D1+C. " +
      "o(X,max<D>) <- lp(X,D)."
    val wedges = (0 until 10).map(i => s"$i,${i + 1},${i % 3 + 1}") ++
      Seq("0,5,9", "2,7,8") // the 9-cost shortcut is filtered out
    def run(localiter: String) = withConf(
      "spark.datalog.recursion.localiterate" -> localiter) {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(wdb + prog)
      ctx.registerData("warc", wedges)
      (ctx.queryStrings("o(A,D).").toSet, ctx.localIterateMonoRuns)
    }
    val (looped, loopedRuns) = run("false")
    val (wave, waveRuns) = run("true")
    assert(loopedRuns == 0 && waveRuns == 1)
    assert(wave == looped && wave.nonEmpty)
  }

  test("localiterate result feeds downstream strata like any relation") {
    val (rows, runs) = withConf(
      "spark.datalog.recursion.localiterate" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + llTc +
        " cnt(count<B>) <- tc(0,B).")
      ctx.registerData("arc", arcs)
      (ctx.queryStrings("cnt(N).").toSet, ctx.localIterateRuns)
    }
    assert(runs >= 1)
    val want = expected.count(_.head == "0")
    assert(rows.map(parseRow) == Set(Seq(want.toString)))
  }

  test("non-monotone arithmetic on the aggregate bails every local path") {
    // D = C - D1 is ANTI-monotone in the recursive value: the local
    // Gauss-Seidel paths' within-round visibility would reach a
    // different (schedule-dependent) fixpoint than the relational
    // Jacobi loop, so the lowering must refuse the rule. Chain DAG ->
    // finitely many derivations, so the looped path terminates.
    val wdb = "database({warc(X:long, Y:long, C:long)})."
    val wedges = (0 until 6).map(i => s"$i,${i + 1},${7 + i}")
    def run(prog: String, q: String) = withConf(
      "spark.datalog.recursion.localiterate" -> "true") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(wdb + prog)
      ctx.registerData("warc", wedges)
      (ctx.queryStrings(q).toSet,
        ctx.localIterateMonoRuns, ctx.monotonicLocalRuns)
    }
    val (sub, subWave, subDriver) = run(
      "sp(X,mmin<D>) <- X=0, D=0. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D=C-D1. " +
        "o(X,min<D>) <- sp(X,D).", "o(A,D).")
    assert(subWave == 0 && subDriver == 0,
      "subtraction of the aggregate must not lower to a local path")
    assert(sub.nonEmpty)
    // taint flows through assignments: D2 = D1 + C is derived from the
    // aggregate, so X - D2 is anti-monotone too
    val (chain, chainWave, chainDriver) = run(
      "sp(X,mmin<D>) <- X=0, D=0. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D2=D1+C, D=C-D2. " +
        "o(X,min<D>) <- sp(X,D).", "o(A,D).")
    assert(chainWave == 0 && chainDriver == 0)
    assert(chain.nonEmpty)
    // multiplication by a variable (sign unknowable) bails...
    val (mulv, mulvWave, mulvDriver) = run(
      "sp(X,mmin<D>) <- X=0, D=1. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D=D1*C. " +
        "o(X,min<D>) <- sp(X,D).", "o(A,D).")
    assert(mulvWave == 0 && mulvDriver == 0)
    assert(mulv.nonEmpty)
    // ...but a non-negative literal partner is monotone and engages
    val (mul2loc, mul2Wave, _) = run(
      "sp(X,mmin<D>) <- X=0, D=1. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,_), D=D1*2. " +
        "o(X,min<D>) <- sp(X,D).", "o(A,D).")
    val (mul2loop, _, _) = withConf(
      "spark.datalog.recursion.localiterate" -> "false",
      "spark.datalog.recursion.monotoniclocal" -> "false") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(wdb +
        "sp(X,mmin<D>) <- X=0, D=1. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,_), D=D1*2. " +
        "o(X,min<D>) <- sp(X,D).")
      ctx.registerData("warc", wedges)
      (ctx.queryStrings("o(A,D).").toSet, 0, 0)
    }
    assert(mul2Wave == 1, "non-negative literal multiply should engage")
    assert(mul2loc == mul2loop && mul2loc.nonEmpty)

    // COMPARISON filters on the aggregate bail too: the local paths
    // fire from intermediate (dominated) values, so a filter that
    // passes for a dominated value but fails for the group's best
    // (D1 >= k under mmin) would derive facts the Jacobi loop never
    // does — same divergence class as the arithmetic, closed r11
    val (flt, fltWave, fltDriver) = run(
      "sp(X,mmin<D>) <- X=0, D=0. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D1 >= 0, D=D1+C. " +
        "o(X,min<D>) <- sp(X,D).", "o(A,D).")
    assert(fltWave == 0 && fltDriver == 0,
      "a comparison on the aggregate must not lower to a local path")
    val (fltLoop, _, _) = withConf(
      "spark.datalog.recursion.localiterate" -> "false",
      "spark.datalog.recursion.monotoniclocal" -> "false") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(wdb +
        "sp(X,mmin<D>) <- X=0, D=0. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D1 >= 0, D=D1+C. " +
        "o(X,min<D>) <- sp(X,D).")
      ctx.registerData("warc", wedges)
      (ctx.queryStrings("o(A,D).").toSet, 0, 0)
    }
    assert(flt == fltLoop && flt.nonEmpty,
      "the filtered program must still run (relational fallback)")
    // a filter on STATICS only keeps the local paths engaged
    val (stf, stfWave, _) = run(
      "sp(X,mmin<D>) <- X=0, D=0. " +
        "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), C >= 0, D=D1+C. " +
        "o(X,min<D>) <- sp(X,D).", "o(A,D).")
    assert(stfWave == 1, "static-only filters must not bail the wave")
    assert(stf.nonEmpty)
  }

  test("null seed rows fall back from the monotonic task wave") {
    // a user-registered EDB can carry nulls the Datalog dialect cannot
    // express; the task-local compare has no null-ignoring min/max, so
    // the wave must abort and the looped paths (which DO ignore nulls
    // in the merge) take over with identical results
    // the null must live in a SEED-only relation: a static with a null
    // row already bails at lowering time (staticRowsMemo's null-free
    // contract), so the task-side check is the seed rows' only guard
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val seedSchema = StructType(Seq(
      StructField("x", LongType, nullable = true),
      StructField("c", LongType, nullable = true)))
    val seedRows = Seq(Row(0L, 0L), Row(3L, null))
    val prog = "database({warc(X:long, Y:long, C:long), " +
      "seedr(X:long, C:long)}). " +
      "sp(X,mmin<C>) <- seedr(X,C). " +
      "sp(Z,mmin<D>) <- sp(X,D1), warc(X,Z,C), D=D1+C. " +
      "o(X,min<D>) <- sp(X,D)."
    def run(localiter: String) = withConf(
      "spark.datalog.recursion.localiterate" -> localiter) {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(prog)
      ctx.registerData("warc", (0 until 6).map(i => s"$i,${i + 1},${i + 2}"))
      ctx.registerTable("seedr", spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(seedRows).asJava), seedSchema))
      (ctx.queryStrings("o(A,D).").toSet, ctx.localIterateMonoRuns)
    }
    val (looped, _) = run("false")
    val (wave, waveRuns) = run("true")
    // the wave ATTEMPTED (lowering cannot see data nulls) but the task
    // aborted and the looped fallback produced the result
    assert(waveRuns == 1)
    assert(wave == looped && wave.nonEmpty)
  }

  // ---- driver-resident MUTUAL fixpoint (judge r15 #3) ----

  private val mutualDb = "database({marc(X:long, Y:long), mnode(X:long)})."
  private val mutualProg =
    "meven(X) <- mnode(X), X=0. " +
      "meven(Y) <- modd(X), marc(X,Y). " +
      "modd(Y) <- meven(X), marc(X,Y)."

  private def runMutual(q: String, confs: (String, String)*)
      : (Set[Seq[String]], Int, Int) = withConf(confs: _*) {
    val ctx = new DatalogContext(spark)
    ctx.loadProgram(mutualDb + mutualProg)
    ctx.registerData("marc", (0 until 24).map(i => s"$i,${i + 1}"))
    ctx.registerData("mnode", (0 until 25).map(_.toString))
    val (rows, jobs) = countJobs(ctx.queryStrings(q).toSet)
    (rows.map(parseRow), jobs, ctx.mutualLocalRuns)
  }

  test("mutual clique runs driver-resident: same rows, O(1) jobs") {
    val (looped, loopedJobs, loopedRuns) = runMutual("meven(A).",
      "spark.datalog.recursion.mutuallocal" -> "false")
    assert(loopedRuns == 0)
    assert(looped.map(_.head.toInt) == (0 to 24 by 2).toSet)
    // the 24-deep even/odd chain pays ~an iteration's jobs per hop on
    // the looped round-robin — the exact dl_evenodd overhead shape
    assert(loopedJobs > 15, s"looped mutual unexpectedly cheap: $loopedJobs")
    val (local, jobs, runs) = runMutual("meven(A).")
    assert(runs == 1, "mutual driver fixpoint did not engage")
    assert(local == looped)
    // seeds collect + memoized static collects only — zero per iteration
    assert(jobs <= 8, s"expected O(1) jobs for the driver fixpoint, saw $jobs")
  }

  test("mutual driver fixpoint: entry-cap overflow bails to the looped path") {
    val (looped, _, _) = runMutual("meven(A).",
      "spark.datalog.recursion.mutuallocal" -> "false")
    val (rows, _, runs) = runMutual("meven(A).",
      // cap of 4 < the 25 total facts: engage, overflow mid-loop, bail
      "spark.datalog.recursion.monotoniclocal.maxentries" -> "4",
      "spark.datalog.recursion.monotoniclocal.autoentries" -> "4")
    assert(runs == 1, "driver fixpoint should engage before the overflow")
    assert(rows == looped, "the looped fallback must produce the full answer")
  }

  test("mutual driver fixpoint: bound query agrees with the looped path") {
    val (looped, _, _) = runMutual("meven(4).",
      "spark.datalog.recursion.mutuallocal" -> "false")
    val (local, _, _) = runMutual("meven(4).")
    assert(local == looped && local.nonEmpty)
  }

  test("empty mutual fixpoint types exit-less members whose FIRST rule is self-recursive") {
    // r16 review: the schema-propagation loops tried only each
    // member's first recursive rule — for q below that rule is
    // self-referential and can never resolve, while the second (via p)
    // can. On an empty seed (no node 0) both evaluation paths must
    // return a typed empty frame, not NoSchemaException.
    val prog = mutualDb +
      "p(X) <- mnode(X), X=0. " +
      "p(Y) <- q(X), marc(X,Y). " +
      "q(Y) <- q(X), marc(X,Y). " +
      "q(Y) <- p(X), marc(X,Y)."
    for (local <- Seq("auto", "false")) {
      val rows = withConf("spark.datalog.recursion.mutuallocal" -> local) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram(prog)
        ctx.registerData("marc", Seq("5,6", "6,7"))
        ctx.registerData("mnode", Seq("5", "6", "7")) // no node 0
        ctx.queryStrings("q(A).").toSet
      }
      assert(rows.isEmpty, s"mutuallocal=$local: expected typed empty, got $rows")
    }
  }

  test("non-linear mutual rule (two recursive atoms) bails to the looped path") {
    val (rows, runs) = withConf() {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(mutualDb +
        "p(X) <- mnode(X), X=0. " +
          "p(Y) <- q(X), marc(X,Y). " +
          // two recursive atoms in one body: not linear — must refuse
          "q(Y) <- p(X), q(Z), marc(X,Y), marc(Z,_). " +
          "q(Y) <- p(X), marc(X,Y).")
      ctx.registerData("marc", (0 until 6).map(i => s"$i,${i + 1}"))
      ctx.registerData("mnode", (0 until 7).map(_.toString))
      (ctx.queryStrings("p(A).").toSet.map(parseRow), ctx.mutualLocalRuns)
    }
    assert(runs == 0, "non-linear mutual must not take the driver path")
    assert(rows.map(_.head.toInt) == (0 to 6 by 2).toSet)
  }

  // ---- single-predicate handoff to the driver-resident kernel ----

  /** `chains` disjoint paths of `length` nodes: node c*1000+i → c*1000+i+1. */
  private def chainArcs(chains: Int, length: Int): Seq[String] =
    for (c <- 0 until chains; i <- 0 until length - 1)
      yield s"${c * 1000 + i},${c * 1000 + i + 1}"

  private def runChainTc(q: String, arcRows: Seq[String], confs: (String, String)*)
      : (Set[Seq[String]], Int, Int) = withConf(confs: _*) {
    val ctx = new DatalogContext(spark)
    ctx.loadProgram(db + llTc)
    ctx.registerData("arc", arcRows)
    val (rows, jobs) = countJobs(ctx.queryStrings(q).toSet)
    (rows.map(parseRow), jobs, ctx.mutualLocalRuns)
  }

  test("handoff: a 100-chain x 14 forest evaluates in a bounded number of jobs") {
    val arcRows = chainArcs(100, 14)
    val expected = (for (c <- 0 until 100; i <- 0 until 14; j <- i + 1 until 14)
      yield Seq(s"${c * 1000 + i}", s"${c * 1000 + j}")).toSet
    val (looped, loopedJobs, loopedRuns) = runChainTc("tc(A,B).", arcRows,
      "spark.datalog.recursion.mutuallocal" -> "false")
    assert(loopedRuns == 0 && looped == expected)
    val (local, jobs, runs) = runChainTc("tc(A,B).", arcRows)
    assert(runs == 1, "the localized seed slice was not handed off")
    assert(local == expected)
    // seed checkpoint + collect, one static count + collect: none per round
    assert(jobs <= 8, s"expected O(1) jobs for the handoff, saw $jobs")
    assert(loopedJobs > 3 * jobs, s"looped $loopedJobs vs handoff $jobs")
  }

  test("handoff: an entry-cap overflow mid-loop falls back to the full answer") {
    val arcRows = chainArcs(1, 5)
    val (looped, _, _) = runChainTc("tc(A,B).", arcRows,
      "spark.datalog.recursion.mutuallocal" -> "false")
    val (rows, _, runs) = runChainTc("tc(A,B).", arcRows,
      // the 4 seed arcs fit a cap of 4, the 10 facts do not: the kernel
      // engages, overflows in round 1 and the loop resumes from
      // iteration 0
      "spark.datalog.recursion.monotoniclocal.autoentries" -> "4")
    assert(looped.size == 10 && rows == looped)
    assert(runs == 1, "the kernel should engage before the overflow")
  }

  test("handoff: an Int seed over a Long static falls back to the loop") {
    val ctx = new DatalogContext(spark)
    ctx.loadProgram("database({larc(X:long, Y:long)})." +
      "lreach(X) <- X=0. lreach(Y) <- lreach(X), larc(X,Y).")
    ctx.registerData("larc", (0 until 12).map(i => s"$i,${i + 1}"))
    val got = ctx.query("lreach(A).").collect()
      .map(_.get(0).asInstanceOf[Number].longValue).toSet
    assert(got == (0L to 12L).toSet)
    assert(ctx.mutualLocalRuns == 0, "an Int-vs-Long probe must not lower")
  }

  test("static over the driver cap is rejected before any row is gathered") {
    val cap = 1 << 20
    import org.apache.spark.sql.functions.col
    def run(big: org.apache.spark.sql.DataFrame, local: String) =
      withConf("spark.datalog.recursion.mutuallocal" -> local) {
        val ctx = new DatalogContext(spark)
        ctx.loadProgram("database({sarc(X:long, Y:long), big(X:long, Y:long)})." +
          "r(X,Y) <- sarc(X,Y). r(X,Y) <- r(X,Z), big(Z,Y).")
        ctx.registerData("sarc", Seq("1,2", "2,3"))
        ctx.registerTable("big", big)
        val rows = ctx.queryStrings("r(A,B).").toSet
        (rows, ctx.staticCollectPeakRows, ctx.mutualLocalRuns)
      }
    val expected = Set("[1,2]", "[2,3]", "[1,5000002]", "[2,5000003]")
    val n = cap + 16L
    // a range's row count is in its plan; a filtered one needs one count
    for (ids <- Seq(spark.range(0, n), spark.range(0, n).filter(col("id") >= 0))) {
      val big = ids.select(col("id").as("x"), (col("id") + 5000000L).as("y"))
      val (looped, _, _) = run(big, "false")
      val (rows, peak, runs) = run(big, "auto")
      assert(looped == expected && rows == looped)
      assert(runs == 0, "an over-cap static must bail the kernel")
      assert(peak <= cap, s"the driver received $peak static rows (cap $cap)")
    }
  }

  test("local slices fold into one LocalRelation when the kernel cannot lower") {
    // a negated static atom is not lowerable, so the looped copart path
    // runs all 29 rounds with local deltas
    val chains = 10
    val len = 30
    val arcRows = chainArcs(chains, len)
    val blocked = (0 until chains).map(c => c * 1000 + 7 + c)
    val ctx = new DatalogContext(spark)
    ctx.loadProgram("database({arc(X:integer, Y:integer), blocked(X:integer)})." +
      "ntc(A,B) <- arc(A,B). ntc(A,B) <- ntc(A,C), arc(C,B), ~blocked(B).")
    ctx.registerData("arc", arcRows)
    ctx.registerData("blocked", blocked.map(_.toString))
    val df = ctx.query("ntc(A,B).")
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // oracle: naive closure over Scala sets
    val arcs = arcRows.map { r => val p = r.split(","); (p(0).toInt, p(1).toInt) }
    val succ = arcs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var oracle = arcs.toSet
    var grew = true
    while (grew) {
      val next = oracle ++ (for ((a, c) <- oracle; b <- succ.getOrElse(c, Nil)
        if !blocked.contains(b)) yield (a, b))
      grew = next.size > oracle.size
      oracle = next
    }
    assert(got == oracle && oracle.size > 1000)
    assert(ctx.mutualLocalRuns == 0)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.count(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) == 1,
      s"expected one folded LocalRelation leaf, got:\n${df.queryExecution.optimizedPlan}")
    ctx.close()
  }
}
