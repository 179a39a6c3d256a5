package graft

import org.apache.spark.sql.functions._

/** Pins [[Tables.widenedBy]]'s size-capped width policy (r19 verdict #1:
  * a pinned `defaultParallelism` repartition regressed the light window
  * pipelines at 32 cores — the pinned width must never exceed what the
  * input size supports).
  */
class WideningSpec extends SparkSpec {

  private def width(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("width is data-capped, never exceeds parallelism, rows unchanged") {
    val docs = Tables.documents(spark, sf)
    val p = spark.sparkContext.defaultParallelism
    // the sf0.001 documents file is 65,515 bytes of plan stats in one
    // partition: 65515 / 16384 + 1 = 4 heavy tasks (= local[4]), and
    // 65515 / 65536 + 1 = 1 light task (the scan's own width)
    assert(width(docs) === 1)
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(65515))

    val heavy = Tables.widenedBy(docs, col("doc_id"))
    val light = Tables.widenedBy(docs, Tables.WidenLightBytesPerTask, col("doc_id"))
    assert(width(heavy) === 4)
    assert(width(light) === 1)
    assert(width(heavy) <= p)
    assert(width(light) <= width(heavy))
    // widening is pure redistribution
    assert(light.count() === docs.count())
    assert(heavy.count() === docs.count())
  }

  test("already-wide input is returned untouched (production no-op guard)") {
    val p = spark.sparkContext.defaultParallelism
    val wide = Tables.documents(spark, sf).repartition(p, col("doc_id"))
    // cur >= p: no extra exchange is inserted — the very same frame back
    assert(Tables.widenedBy(wide, col("doc_id")) eq wide)
  }

  test("plan stats past the Long range still widen to full parallelism") {
    // each side is 2^40 longs = 2^43 bytes; the cross join's stats are
    // the product, 2^86 bytes, and 2^86 / 2^14 heavy bytes per task =
    // 2^72 wraps to 0 as a Long. Planned as a cartesian product, so
    // nothing runs.
    def side = spark.range(0L, 1L << 40, 1L, 1)
    val huge = side.crossJoin(side)
    assert(huge.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(2).pow(86))
    assert(width(huge) === 1)
    val w = Tables.widenedBy(huge)
    w.queryExecution.logical match {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation =>
        assert(r.numPartitions === spark.sparkContext.defaultParallelism)
      case other => fail(s"expected a repartition to full width, got:\n$other")
    }
  }

  test("a tiny input never pins more tasks than its bytes support") {
    // nation is ~3 KB: even the heavy cost class must stay at width 1
    // rather than fan 4 near-empty pinned tasks
    val nation = Tables.nation(spark, sf)
    val w = Tables.widenedBy(nation, col("n_nationkey"))
    assert(width(w) === width(nation))
  }
}
