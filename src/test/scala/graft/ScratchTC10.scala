package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col, lit, max}

/** Throwaway (Test scope, never shipped): iteration-vs-wall profile of
  * the REAL dl_tc gate (TC-LL over the weighted intra-block DAG,
  * DatalogQueries.arcDF) at an arbitrary fixture — the PSN twin of
  * ScratchCC10 (judge r17 #4: the 24.5s committed sf10 wall has never
  * been split into iterations vs diff/dedup vs state-scan, and
  * diffflip engagement at sf10 is unmeasured).
  *
  *   sbt "Test/runMain graft.ScratchTC10 <sfDir> [conf=val ...] [stages]"
  *
  * Trailing key=value args become session confs (so
  * `spark.datalog.recursion.diffflip=false` / `diffflip=true` A/B the
  * dedup machinery on the gate-identical shape); `stages`
  * attaches a per-stage listener.
  */
object ScratchTC10 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/target/scratch/tmp_sf10")
    val B = 16
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "128"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.datalog.recursion.collectstats", "true")
    args.drop(1).filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    if (args.contains("stages"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val ms = (for {a <- i.completionTime; b <- i.submissionTime}
              yield a - b).getOrElse(-1L)
            println(s"TC10 stage ${i.stageId} ${ms}ms tasks=${i.numTasks} " +
              s"in=${i.taskMetrics.inputMetrics.recordsRead} " +
              s"sr=${i.taskMetrics.shuffleReadMetrics.recordsRead} " +
              s"sw=${i.taskMetrics.shuffleWriteMetrics.recordsWritten} " +
              s"exec=${i.taskMetrics.executorRunTime}ms " +
              s"[${i.name.takeWhile(_ != '\n').take(50)}]")
          }
        })
    val keys = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("k"))
    val mx = keys.agg(max("k").as("m"))
    val withMax = keys.crossJoin(broadcast(mx))
    val step = withMax
      .filter(col("k") % B =!= (B - 1) && col("k") + 1 <= col("m"))
      .select(col("k").as("x"), (col("k") + 1).as("y"), lit(2L).as("c"))
    val skip = withMax
      .filter(col("k") % B <= (B - 4) && col("k") + 3 <= col("m"))
      .select(col("k").as("x"), (col("k") + 3).as("y"), lit(5L).as("c"))
    val t0 = System.nanoTime()
    val c = new graft.datalog.DatalogContext(spark)
    c.loadProgram("database({arc(X:long, Y:long, C:long)}). " +
      "tc(A,B) <- arc(A,B,_). tc(A,B) <- tc(A,C), arc(C,B,_).")
    c.registerTable("arc", step.union(skip))
    val n = c.query("tc(A,B).").count()
    println(f"TC10 total: ${(System.nanoTime() - t0) / 1e9}%.1fs rows=$n sf=$sfDir")
    println(s"TC10 templateHits=${c.planTemplateHits}")
    c.iterationStats.foreach { s => println(s"TC10 stat: $s") }
    c.close(); spark.stop()
  }
}
