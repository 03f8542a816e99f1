package dlbench

import graft.datalog.DatalogContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One timed operation: `query` until the answer is collected. */
final case class OpResult(queryMs: Double, collectMs: Double, failure: Option[String]) {
  def wallMs: Double = queryMs + collectMs
}

/** A workload: a program, seeded inputs, an oracle and one operation.
  * The engine is reached only through `DatalogContext`. */
sealed trait Workload {
  def name: String
  def program: String
  /** Query text of one operation, for front-end timing. */
  def sampleQuery: String
  /** Nodes of the input graph (a selection property). */
  def nodes: Long
  /** Batch workloads evaluate the whole relation once per operation in
    * a fresh context; the point workload keeps one context for its loop. */
  def freshContextPerOp: Boolean = true
  /** Untimed full-size operations before timing starts. Code paths that
    * only full-size inputs reach are still warming up for a few runs. */
  def warmOps: Int = 1
  /** Build the oracle's expected answers (driver side, not timed). */
  def prepareOracle(): Unit
  /** Input relations, generated on the executors and cached. */
  def inputs(spark: SparkSession): Seq[(String, DataFrame)]
  /** Inputs of the warm-up operation, given the cached real ones. */
  def warmupInputs(spark: SparkSession, real: Seq[(String, DataFrame)]): Seq[(String, DataFrame)]
  def warmupOp(ctx: DatalogContext): OpResult
  def op(ctx: DatalogContext): OpResult
}

object Workload {
  val names: Seq[String] = Seq("tc_deep", "tc_wide", "cc_mono", "point_reach")

  def apply(name: String, seed: Long): Option[Workload] = name match {
    case "tc_deep" => Some(new ChainTc(name, ChainForest(100, 14, seed), ChainForest(4, 3, seed + 7)))
    case "tc_wide" => Some(new ChainTc(name, ChainForest(15000, 12, seed), ChainForest(4, 3, seed + 7)))
    case "cc_mono" => Some(new ConnectedComponents(LayeredComponents(270, 2, 500, seed),
      LayeredComponents(2, 1, 4, seed + 7)))
    case "point_reach" => Some(new PointReach(LayeredDag(50000, 5, seed)))
    case _ => None
  }

  private[dlbench] def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  private[dlbench] def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }

  private[dlbench] def pairs(df: DataFrame): (Array[(Int, Int)], Double) = {
    val (rows, ms) = timed(df.collect())
    (rows.map(r => (r.get(0).asInstanceOf[Number].intValue, r.get(1).asInstanceOf[Number].intValue)), ms)
  }
}

import Workload._

final class ChainTc(val name: String, forest: ChainForest, small: ChainForest) extends Workload {
  val program = "database({arc(From:integer, To:integer)}). " +
    "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B)."
  val sampleQuery = "tc(A,B)."
  def nodes: Long = forest.nodes
  def prepareOracle(): Unit = ()

  private def arcs(spark: SparkSession, f: ChainForest): DataFrame = {
    import spark.implicits._
    spark.range(0, f.nodes, 1, spark.sparkContext.defaultParallelism)
      .flatMap(i => f.arcsOf(i)).toDF("from", "to")
  }
  def inputs(spark: SparkSession) = Seq("arc" -> cached(arcs(spark, forest)))
  def warmupInputs(spark: SparkSession, real: Seq[(String, DataFrame)]) = Seq("arc" -> arcs(spark, small))

  private def run(ctx: DatalogContext, f: ChainForest): OpResult = {
    val (df, queryMs) = timed(ctx.query(sampleQuery))
    val (rows, collectMs) = pairs(df)
    OpResult(queryMs, collectMs, Oracles.chainTc(f, rows))
  }
  def warmupOp(ctx: DatalogContext): OpResult = run(ctx, small)
  def op(ctx: DatalogContext): OpResult = run(ctx, forest)
}

final class ConnectedComponents(graph: LayeredComponents, small: LayeredComponents) extends Workload {
  val name = "cc_mono"
  override def warmOps = 2
  val program = "database({node(X:integer), edge(From:integer, To:integer)}). " +
    "cc3(X,mmin<X>) <- node(X). " +
    "cc3(Y,mmin<V>) <- cc3(X,V), edge(X,Y). " +
    "cc2(X,min<Y>) <- cc3(X,Y). " +
    "cc(countd<Z>) <- cc2(_,Z)."
  val sampleQuery = "cc2(A,B)."
  def nodes: Long = graph.nodes
  private var oracle: Oracles.ComponentLabels = _
  private lazy val smallOracle = new Oracles.ComponentLabels(small)
  def prepareOracle(): Unit = oracle = new Oracles.ComponentLabels(graph)

  private def relations(spark: SparkSession, g: LayeredComponents): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val ids = spark.range(0, g.nodes, 1, spark.sparkContext.defaultParallelism)
    Seq("node" -> ids.map(i => g.id(i)).toDF("x"),
      "edge" -> ids.flatMap(i => g.edgesOf(i)).toDF("from", "to"))
  }
  def inputs(spark: SparkSession) = relations(spark, graph).map { case (n, df) => n -> cached(df) }
  def warmupInputs(spark: SparkSession, real: Seq[(String, DataFrame)]) = relations(spark, small)

  private def run(ctx: DatalogContext, o: Oracles.ComponentLabels): OpResult = {
    val (labelsDf, q1) = timed(ctx.query(sampleQuery))
    val (labels, c1) = pairs(labelsDf)
    val (countDf, q2) = timed(ctx.query("cc(A)."))
    val (count, c2) = timed(countDf.collect())
    val failure =
      if (count.length != 1) Some(s"cc(A) returned ${count.length} rows")
      else o.check(labels, count.head.get(0).asInstanceOf[Number].longValue)
    OpResult(q1 + q2, c1 + c2, failure)
  }
  def warmupOp(ctx: DatalogContext): OpResult = run(ctx, smallOracle)
  def op(ctx: DatalogContext): OpResult = run(ctx, oracle)
}

final class PointReach(dag: LayeredDag) extends Workload {
  val name = "point_reach"
  val program = "database({arc(From:integer, To:integer)}). " +
    "tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B)."
  val sampleQuery = "tc(1,B)."
  def nodes: Long = dag.nodes
  override def freshContextPerOp = false
  override def warmOps = 4
  private var oracle: Oracles.Reach = _
  private val keys = dag.keys(1)
  private val warmupKeys = dag.keys(2)
  def prepareOracle(): Unit = oracle = new Oracles.Reach(dag)

  private def arcs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val g = dag
    spark.range(0, g.nodes, 1, spark.sparkContext.defaultParallelism)
      .flatMap(i => g.arcsOf(i)).toDF("from", "to")
  }
  def inputs(spark: SparkSession) = Seq("arc" -> cached(arcs(spark)))
  def warmupInputs(spark: SparkSession, real: Seq[(String, DataFrame)]) = real

  private def run(ctx: DatalogContext, key: Int): OpResult = {
    val (df, queryMs) = timed(ctx.query(s"tc($key,B)."))
    val (rows, collectMs) = pairs(df)
    OpResult(queryMs, collectMs, oracle.check(key, rows))
  }
  def warmupOp(ctx: DatalogContext): OpResult = run(ctx, warmupKeys.next())
  def op(ctx: DatalogContext): OpResult = run(ctx, keys.next())
}
