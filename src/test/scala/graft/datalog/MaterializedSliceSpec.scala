package graft.datalog

import org.scalatest.funsuite.AnyFunSuite

/** The materialized-slice invariant (ADVICE r11): every slice the
  * caller can still evaluate is a MATERIALIZED plan (checkpointed-RDD /
  * LocalRelation leaves — stored blocks, no iteration lineage), so a
  * result never re-runs iterations whose per-loop state (session pins,
  * retired checkpoints) is gone once the fixpoint returns. Slice's
  * constructor asserts `Evaluator.materializedPlan`; this spec ties the
  * two ends together: a forced-diffflip fixpoint's result must stay
  * re-evaluable after the fixpoint has returned, and the
  * materializedPlan predicate itself must accept exactly the stored-
  * block plan shapes and reject lazy lineage. */
class MaterializedSliceSpec extends AnyFunSuite {
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

  test("materializedPlan accepts stored-block leaves, rejects lazy lineage") {
    import spark.implicits._
    val local = Seq((1, 2), (2, 3)).toDF("a", "b")
    assert(Evaluator.materializedPlan(local)) // LocalRelation
    val ck = local.localCheckpoint()
    assert(Evaluator.materializedPlan(ck)) // LogicalRDD
    assert(Evaluator.materializedPlan(ck.filter($"a" > 0).select($"b")))
    val lazyScan = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    assert(!Evaluator.materializedPlan(lazyScan)) // file scan = lazy
    assert(!Evaluator.materializedPlan(local.join(lazyScan.limit(0))))
  }

  test("bloom fixpoint result is re-evaluable after the probe broadcasts are destroyed") {
    withConf(
      "spark.datalog.recursion.copartition.enabled" -> "true",
      "spark.datalog.recursion.diffflip" -> "true",
      "spark.datalog.recursion.localDeltaRows" -> "0") {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(
        "database({arc(X:integer, Y:integer)}). " +
          "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B).")
      ctx.registerData("arc",
        (0 until 24).map(i => s"$i,${i + 1}") :+ "24,0")
      // the fixpoint's session pins are restored BEFORE query()
      // returns — so the very first evaluation below, and any
      // re-evaluation while the checkpoint blocks live (i.e. until
      // close()), must be a block replay of the same rows
      val df = ctx.query("tc(A,B).")
      val before = df.count()
      assert(before == 25L * 25L)
      assert(df.count() == before)
      assert(df.filter("A = 0").count() == 25L)
      ctx.close() // checkpoint blocks die HERE — results consumed above
    }
  }
}
