package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge

/** Runtime bloom-filter join pruning — the semi-join filter every
  * 100 TB engine applies when the build side is too big to broadcast as
  * a hash table but its SKETCH is not (Spark's own InjectRuntimeFilter,
  * Trino's dynamic filters, the reference's SetRDD membership probe all
  * share this shape).
  *
  * Mechanics: the build keys aggregate into ONE serialized
  * `util.sketch.BloomFilter` via Catalyst's `BloomFilterAggregate` —
  * per-partition partial sketches merged by the agg machinery, never a
  * driver-side collect of keys — and the fact side probes it through
  * the engine's codegen'd broadcast expression
  * (`BloomMightContainBroadcast`: sketch ships once per executor, not
  * per task binary) BEFORE the join's shuffle. False positives only,
  * so the exact join above it keeps the result IDENTICAL to the
  * unfiltered join — the plain join is the correctness oracle; what
  * the filter buys is shuffle volume: only fact rows that might match
  * reach the exchange.
  */
object JoinOps {

  /** `fact` pruned to rows whose `factKey` might appear in `build`'s
    * `buildKey` set, then exact-joined. `expectedItems` sizes the
    * sketch (fpp degrades gracefully past it — more shuffle, never a
    * wrong answer). Returns the pruned fact (caller joins).
    *
    * The key columns must resolve to the SAME data type: xxhash64
    * hashes per-type, so equal values of different types (int 5 vs
    * bigint 5) hash apart and true matches would be pruned — the same
    * reason Spark's InjectRuntimeFilter requires matching sides. A
    * mismatch fails loudly here instead of silently dropping rows.
    *
    * The sketch broadcast (~1 MB at the default sizing) must outlive
    * every plan derived from the result; it is registered with
    * PackResources and destroyed by the pack-wide release points. */
  def bloomPruneFact(
      fact: DataFrame, factKey: Column,
      build: DataFrame, buildKey: Column,
      expectedItems: Long = 1 << 20): DataFrame = {
    val factType = fact.select(factKey).schema.head.dataType
    val buildType = build.select(buildKey).schema.head.dataType
    require(factType == buildType,
      s"bloomPruneFact key types must match (fact $factType vs build " +
        s"$buildType): xxhash64 is type-dependent, a mismatch would " +
        "prune genuinely matching rows")
    val row = build
      .select(GraftColumnBridge.bloomAggregate(xxhash64(buildKey), expectedItems)
        .as("sketch"))
      .head()
    if (row.isNullAt(0)) fact.limit(0) // empty build side: nothing joins
    else {
      val bc = fact.sparkSession.sparkContext.broadcast(row.getAs[Array[Byte]](0))
      PackResources.trackBroadcast(bc)
      fact.filter(
        GraftColumnBridge.bloomMightContainBroadcast(bc, xxhash64(factKey)))
    }
  }
}
