package graft.datalog

/** `explainRecursion`: the single-explain surface for whole recursions
  * (reference analog: one Catalyst tree per recursive query via its
  * custom logical operators). Composed without running the fixpoint. */
class ExplainSpec extends DatalogSuite {

  test("explainRecursion renders exit + per-variant iteration templates") {
    val ctx = new DatalogContext(spark)
    ctx.loadProgram(
      "database({arc(X:integer, Y:integer)}). " +
        "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), tc(C,B).")
    ctx.registerData("arc", Fixtures.graph1b)
    val s = ctx.explainRecursion("tc")
    assert(s.contains("RecursiveUnion [tc]"), s)
    assert(s.contains("semi-naive PSN"), s)
    assert(s.contains("pivot=[0]"), s)
    assert(s.contains("=== exit rules: tc ==="), s)
    // non-linear rule → two variants, each with a Δ leaf and an ALL leaf
    assert(s.contains("variant 1/2") && s.contains("variant 2/2"), s)
    assert(s.contains("Δtc_0") && s.contains("ALLtc_0"), s)
    // composing the explain must NOT have run the fixpoint
    assert(ctx.iterationStats.isEmpty)
    ctx.close()
  }

  test("explainRecursion reports the single-predicate driver handoff") {
    val ctx = new DatalogContext(spark)
    ctx.loadProgram(
      "database({arc(X:integer, Y:integer)}). " +
        "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B).")
    ctx.registerData("arc", Fixtures.graph1b)
    val s = ctx.explainRecursion("tc")
    assert(s.contains("mutuallocal=auto") && s.contains("iteration-0 seed slice"), s)
    assert(!s.contains("mutual round-robin"), s)
    val key = "spark.datalog.recursion.mutuallocal"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val off = new DatalogContext(spark)
      off.loadProgram(
        "database({arc(X:integer, Y:integer)}). " +
          "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B).")
      off.registerData("arc", Fixtures.graph1b)
      assert(!off.explainRecursion("tc").contains("mutuallocal"))
      off.close()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    ctx.close()
  }

  test("explainRecursion marks mutual cliques and magic-style no-exit preds") {
    val ctx = new DatalogContext(spark)
    ctx.loadProgram(
      "database({num(X:integer)}). " +
        "even(X) <- X=0. even(X) <- odd(Y), X=Y+1, num(X). " +
        "odd(X) <- even(Y), X=Y+1, num(X).")
    ctx.registerData("num", (0 to 7).map(_.toString))
    val s = ctx.explainRecursion("even")
    assert(s.contains("mutual round-robin"), s)
    assert(s.contains("=== exit rules: odd ==="), s)
    assert(s.contains("first facts arrive through the recursive rules"), s)
    assert(s.contains("Δeven_0") || s.contains("ΔEVEN"), s)
    ctx.close()
  }
}
