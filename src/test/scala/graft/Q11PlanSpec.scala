package graft

import graft.operators.Relational4
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Pins the r13 bench-anomaly fix on sql_q11 (VERDICT r13 ask #1).
  *
  * The r13 shape consumed `contrib` (lineitem ⋈ broadcast nation-supplier)
  * twice — per-part aggregate and grand-total threshold — with no
  * materialization, leaving it to the planner whether the second consumer
  * reused the first's exchange or re-scanned lineitem. The driver measured
  * both outcomes on the SAME tree (0.41 s committed vs 2.8–3.3 s across six
  * samples 24 min later): a per-run coin flip, not host drift. The fix
  * derives the threshold from the ONCE-materialized per-part DECIMAL
  * aggregate (re-summing exact decimals — identical semantics), so lineitem
  * has exactly one consumer and there is no reuse decision left to wobble.
  *
  * This spec asserts the invariant the fix establishes: a full run of the
  * registered sqlQ11 executes EXACTLY ONE lineitem file scan, while the
  * retained legacy shape is allowed 1-or-2 (whichever the planner picks
  * today — the point is that its count is not pinned). The wall-clock A/B
  * that closed the anomaly is recorded in BASELINE.md §r14;
  * `graft.Dev time sql_q11` re-times the registered shape. */
class Q11PlanSpec extends SparkSpec {

  /** Number of EXECUTED FileSourceScanExec nodes over lineitem during `f`,
    * drained from the async QueryExecutionListener bus. A scan avoided via
    * ReusedExchange is not visited (the reused side is a leaf reference),
    * so this counts what actually ran, not what the logical plan mentions. */
  private def lineitemScansDuring[T](f: => T): (T, Long) = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case s: FileSourceScanExec    =>
          if (s.relation.location.rootPaths.exists(_.toString.contains("lineitem")))
            acc.incrementAndGet()
        case other                    => other.children.foreach(walk)
      }
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        walk(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = f
      var last = -1L; var stable = 0; var waited = 0
      while (stable < 3 && waited < 100) {
        Thread.sleep(100); waited += 1
        val now = acc.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      (r, acc.get())
    } finally spark.listenerManager.unregister(listener)
  }

  test("registered sqlQ11 executes exactly one lineitem scan end-to-end") {
    val (rows, scans) = lineitemScansDuring {
      Relational4.sqlQ11(spark, sf).count()
    }
    assert(rows > 0, "sql_q11 must be non-vacuous at sf0.001 (r13 defect)")
    assert(scans == 1L,
      s"sqlQ11 ran $scans lineitem scans — the single-consumer shape must " +
        "scan lineitem exactly once (eager checkpoint of the per-part agg)")
  }

  test("legacy twice-consumed shape's scan count is planner's choice (1 or 2)") {
    // (the 1% threshold is vacuous at the sf0.01 gate and above — 195
    // parts at sf0.001 are few enough that 16 clear it here; the defect
    // was scale-dependent, which is exactly why the fixed threshold is
    // scale-invariant)
    val (_, scans) = lineitemScansDuring {
      Relational4.sqlQ11TwiceConsumed(spark, sf).count()
    }
    assert(scans == 1L || scans == 2L,
      s"legacy shape ran $scans lineitem scans — expected the planner-dependent 1 or 2")
  }
}
