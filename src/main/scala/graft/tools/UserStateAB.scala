package graft.tools
import org.apache.spark.sql.SparkSession

/** Ad-hoc warm A/B for the flatMapGroupsWithState gate (the TcNlAB
  * pattern): 3 same-JVM runs with memo rollback between, plus
  * per-batch walls — decomposes a suspicious bench reading into
  * first-of-family JIT vs steady state. r13 reading: 9.9s cold-first
  * (batch 1 alone 3.9s of typed-path JIT) vs 2.6-2.9s warm at sf0.1. */
object UserStateAB {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("stream_user_state")(spark, dir).count()
      println(f"run$i ${(System.nanoTime() - t0) / 1e9}%.2f s  batches=" +
        graft.queries.StreamingQueries.batchMillisByQuery("stream_user_state"))
      graft.queries.PackResources.releaseAll()
    }
    spark.stop()
  }
}
