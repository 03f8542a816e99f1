package graft.datalog

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Fixpoints at the reference's benchmark-graph scale: reachability over
  * a seeded directed G(n,p) graph of the reference's gnp10K size (10,000
  * nodes, p = 0.001, about 100k edges), loaded through the CSV path and
  * checked against an in-memory BFS oracle. */
class LargeGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("reach over gnp10K (100k edges) matches BFS") {
    val edges = GeneratedGraphs.gnp(10000, 0.001, seed = 10000L)
    assert(edges.size > 95000 && edges.size < 105000, s"${edges.size} edges")
    val gnp = java.nio.file.Files.createTempFile("gnp10K", ".csv")
    try {
      java.nio.file.Files.write(gnp,
        edges.map { case (a, b) => s"$a,$b" }.mkString("\n").getBytes("UTF-8"))
      // BFS oracle from vertex 0
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val seen = mutable.Set(0)
      var frontier = List(0)
      while (frontier.nonEmpty)
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(seen).distinct
          .tapEach(seen += _)

      val ctx = new DatalogContext(spark)
      ctx.loadProgram(
        "database({arc(X:integer, Y:integer)})." +
          "reach(X) <- X=0. reach(Y) <- reach(X), arc(X,Y).")
      ctx.registerAndLoadTable("arc", gnp.toString)
      val got = ctx.query("reach(A).").collect().map(_.getInt(0)).toSet
      assert(got == seen.toSet)
      assert(got.size > 1000, s"suspiciously small reach set: ${got.size}")
      ctx.close()
    } finally java.nio.file.Files.deleteIfExists(gnp)
  }
}
