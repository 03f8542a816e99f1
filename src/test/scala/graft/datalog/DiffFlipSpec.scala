package graft.datalog

import org.scalatest.funsuite.AnyFunSuite

/** The semi-join flip for fixpoint candidate dedup
  * (`spark.datalog.recursion.diffflip`): instead of a left-anti that
  * hash-builds the accumulated fact set every iteration (O(|all|)
  * hashed — the compute half of the reference's SetRDD gap,
  * SetRDD.scala:29-167), build `matched = slice ⋉ candidates` (hash of
  * the candidate set only) and subtract the matched rows. Asserts:
  * results are hash-identical to the legacy anti path, the flip's plan
  * actually contains the LeftSemi, iterations stay zero-exchange on
  * the claimed pivot layout, and the one-time Int→Long slice widening
  * keeps values past 2^31 exact without duplicating facts. */
class DiffFlipSpec extends AnyFunSuite {
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
  // chain + a binary-tree fan so candidate sets carry real duplicates
  private val arcs =
    (0 until 20).map(i => s"$i,${i + 1}") ++
    (1 until 32).map(i => s"${i / 2 + 100},${i + 100}") ++
    Seq("20,100")

  private def runTc(flip: String) =
    withConf(
      "spark.datalog.recursion.copartition.enabled" -> "true",
      "spark.datalog.recursion.diffflip" -> flip,
      "spark.datalog.recursion.logplans" -> "true",
      // force the cluster path: no driver-resident or localized slices
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + llTc)
      ctx.registerData("arc", arcs)
      val rows = ctx.queryStrings("tc(A,B).").toSet
      (rows, ctx.iterationPlanLog)
    }

  test("flip on == flip off (hash-identical TC), plan shows the semi, zero exchanges") {
    val (off, _) = runTc("false")
    val (on, log) = runTc("true")
    assert(on == off)
    assert(on.nonEmpty)
    val iters = log.filter(_._2 >= 1)
    assert(iters.nonEmpty)
    // every iteration >= 1 stays exchange-free under the flip
    assert(iters.forall(_._3 == 0),
      s"exchanges per iteration: ${iters.map(t => (t._2, t._3))}")
    // and the flip actually planned semi-joins (not a silent fallback)
    assert(iters.exists(_._4.contains("LeftSemi")),
      "no LeftSemi in any iteration plan — flip did not engage")
    // spot-check the build sides: the anti must not build the big slice
    // (BuildRight on the matched/semi output, not on a checkpointed
    // scan directly)
    assert(iters.exists(_._4.contains("LeftAnti")))
  }

  test("auto: plain anti below minrows, flip past it") {
    def run(minRows: String) = withConf(
      "spark.datalog.recursion.copartition.enabled" -> "true",
      "spark.datalog.recursion.diffflip" -> "auto",
      "spark.datalog.recursion.diffflip.minrows" -> minRows,
      "spark.datalog.recursion.logplans" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(db + llTc)
      ctx.registerData("arc", arcs)
      (ctx.queryStrings("tc(A,B).").toSet, ctx.iterationPlanLog)
    }
    // tiny fixpoint under the default-sized threshold: latency-bound,
    // plain anti plans
    val (rowsHi, logHi) = run((1L << 20).toString)
    assert(rowsHi.nonEmpty)
    assert(!logHi.filter(_._2 >= 1).exists(_._4.contains("LeftSemi")),
      "auto engaged the flip below minrows")
    // threshold 0: every iteration's slices qualify — flip engages and
    // the result is identical
    val (rowsLo, logLo) = run("0")
    assert(rowsLo == rowsHi)
    assert(logLo.filter(_._2 >= 1).exists(_._4.contains("LeftSemi")),
      "auto did not engage the flip past minrows")
  }

  test("schema widening under the flip: values past 2^31 stay exact, no duplicate facts") {
    withConf(
      "spark.datalog.recursion.copartition.enabled" -> "true",
      "spark.datalog.recursion.diffflip" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      // int-typed constant seed, long-typed facts: iteration 1 widens
      // the seed slice, and the flip's semi + anti must then match the
      // widened seed row when the cycle re-derives it
      ctx.loadProgram(
        "database({arc(X:long, Y:long)}). " +
          "reach(X) <- X=0. reach(Y) <- reach(X), arc(X,Y).")
      ctx.registerData("arc",
        Seq("0,5000000000", "5000000000,5000000001", "5000000001,0",
          "5000000001,5000000002"))
      val rows = ctx.queryStrings("reach(A).")
      // a seed row the diff failed to match would re-enter the delta
      // through the cycle and show up twice
      assert(rows.size == rows.toSet.size, s"duplicate facts: $rows")
      assert(rows.toSet ==
        Set("[0]", "[5000000000]", "[5000000001]", "[5000000002]"))
      ctx.close()
    }
  }
}
