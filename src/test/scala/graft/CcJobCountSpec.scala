package graft

import graft.operators.Dedup

/** `dedupGroups` is job-scheduling bound at fixture and bench scale, so
  * its Spark job count is the regression metric. On one edge partition
  * the components come from one union-find task and the query runs no
  * label-propagation loop: its jobs are the content-representative
  * aggregation and shingle count, the edge count, and the final expansion
  * join. A loop (sizing, symmetric edges, label seeding, then at least
  * one multi-job round) costs several times as many. */
class CcJobCountSpec extends SparkSpec with JobCounting {

  /** Measured on the sf0.001 fixture at `local[4]`, 4 shuffle partitions:
    * the loop-free plan runs 9 jobs, the label-propagation loop ran 48. */
  private val LoopFreeJobs = 9

  test("dedupGroups on the fixture runs the loop-free job count") {
    Dedup.dedupGroups(spark, sf).collect() // warm: codegen, file listing
    val (jobs, _) = countTagged("cc-job-count")(Dedup.dedupGroups(spark, sf).collect())
    assert(jobs <= LoopFreeJobs, s"dedupGroups ran $jobs Spark jobs; the loop-free plan runs $LoopFreeJobs")
  }
}
