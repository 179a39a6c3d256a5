package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Event-time processing over the `events` stream (SURVEY §2.9 extension:
  * the reference's only stream is its ingest control loop — watermarked
  * windows and stateful operators are the category-coverage additions).
  *
  * Each operator has two forms where it makes sense: the Structured
  * Streaming form (readStream-composable, watermarked) and a batch twin
  * registered in SparkEntry with a DuckDB oracle — identical semantics,
  * so the streaming path is testable against the batch result.
  */
object EventStream {

  /** epoch-ms `ts_ms` (the [[Tables.events]] contract — already normalized
    * across the fixture's ts encodings) → proper event-time column. Derive
    * from `ts_ms`, never raw `ts`: the raw column's type varies by fixture
    * generation (nanos-long vs timestamp[us]), and ms precision is the
    * event-time contract everywhere downstream. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_millis(col("ts_ms")))

  // --- watermarked tumbling-window aggregation (streaming form) -----------
  /** 1-hour tumbling windows per event_type with a 10-minute watermark:
    * the standard late-data-tolerant streaming aggregation. Works on any
    * DataFrame with `event_time`/`event_type`/`value` — batch or stream. */
  def windowedCounts(eventsWithTime: DataFrame): DataFrame =
    eventsWithTime
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))

  // --- batch twin with oracle ----------------------------------------------
  /** Same tumbling aggregation, arithmetic hour buckets (exact integer
    * math on epoch ms — no timezone semantics to diverge on). */
  def eventWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket_ms", expr("(ts_ms div 3600000)") * 3600000L)
      .groupBy(col("bucket_ms"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
      .orderBy(col("bucket_ms"), col("event_type"))

  val eventWindowAggSql: String =
    Tables.eventsOracleCte +
      """
        |SELECT (ts_ms // 3600000) * 3600000 AS bucket_ms, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ev
        |GROUP BY 1, 2
        |ORDER BY bucket_ms, event_type""".stripMargin

  // --- sliding (hopping) window aggregation ---------------------------------
  /** 2-hour windows hopping every hour per event_type — each event lands
    * in exactly two windows. Streaming form; works on batch frames too. */
  def slidingCounts(eventsWithTime: DataFrame): DataFrame =
    eventsWithTime
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))

  /** Batch twin of [[slidingCounts]] with an oracle: the native sliding
    * `window()` function (epoch-aligned, timezone-independent), window
    * starts exposed as epoch ms. The oracle replicates each event to its
    * two covering windows via the range-unnest idiom — same rows, and a
    * proof that the built-in assignment is exactly the replicate-join
    * expansion a hand-rolled plan would do. */
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    withEventTime(Tables.events(spark, dir))
      .groupBy(window(col("event_time"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
      .select(unix_millis(col("window.start")).as("start_ms"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("start_ms"), col("event_type"))

  val slidingWindowAggSql: String =
    Tables.eventsOracleCte +
      """
        |SELECT (ts_ms // 3600000 - i) * 3600000 AS start_ms, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ev, LATERAL unnest(range(2)) AS t(i)
        |GROUP BY 1, 2
        |ORDER BY start_ms, event_type""".stripMargin

  // --- batch sessionization (gap-based, window-function form) --------------
  /** Sessionize each user's stream with a 30-minute inactivity gap: a new
    * session starts where the gap from the previous event exceeds the
    * threshold; the session index is a running sum of those boundaries —
    * two partitioned windows, no state store needed in batch. */
  def sessionize(spark: SparkSession, dir: String, gapMs: Long = 1800000L): DataFrame = {
    val byUser  = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap     = col("ts_ms") - lag("ts_ms", 1).over(byUser)
    Tables.events(spark, dir)
      .withColumn("new_session",
        when(gap.isNull || gap > gapMs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(running))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts_ms")).as("start_ms"),
           max(col("ts_ms")).as("end_ms"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val sessionizeSql: String =
    Tables.eventsOracleCte +
      """, flagged AS (
        |  SELECT user_id, event_id, ts_ms,
        |         CASE WHEN ts_ms - lag(ts_ms, 1) OVER w IS NULL
        |                OR ts_ms - lag(ts_ms, 1) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), indexed AS (
        |  SELECT user_id, ts_ms,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id
        |                                ORDER BY ts_ms, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS session_idx
        |  FROM flagged
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |FROM indexed
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin

  // --- time-series gap fill + forward fill -----------------------------------
  /** Regularize each user's stream onto an hourly grid: generate the full
    * hour series between the user's first and last event (sequence +
    * explode — bounded per user, no global calendar table), left-join the
    * per-hour aggregates, zero-fill counts, and forward-fill the last
    * observed value across empty hours (ignore-nulls last over the hour
    * order) — the locf/gap-fill operator every monitoring / feature
    * pipeline needs. Scale shape: one shuffle to the per-hour grain, one
    * partitioned window; series width is bounded by each user's own span. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("hour", expr("ts_ms div 3600000"))
    val perHour = ev.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("last_val"))
    val series = ev.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("hour"))
    val wFill = Window.partitionBy("user_id").orderBy("hour")
    series.join(perHour, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("last_val"), ignoreNulls = true).over(wFill).as("filled_val"))
      .orderBy(col("user_id"), col("hour"))
  }

  val gapFillSql: String =
    Tables.eventsOracleCte +
      """, eh AS (
        |  SELECT user_id, ts_ms // 3600000 AS hour, value, ts_ms, event_id FROM ev
        |), ph AS (
        |  SELECT user_id, hour, count(*) AS n_events,
        |         first(value ORDER BY ts_ms DESC, event_id DESC) AS last_val
        |  FROM eh GROUP BY 1, 2
        |), bounds AS (
        |  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM eh GROUP BY 1
        |), series AS (
        |  SELECT user_id, i AS hour FROM bounds, LATERAL unnest(range(h0, h1 + 1)) AS t(i)
        |), j AS (
        |  SELECT s.user_id, s.hour,
        |         CAST(coalesce(p.n_events, 0) AS BIGINT) AS n_events, p.last_val
        |  FROM series s LEFT JOIN ph p ON s.user_id = p.user_id AND s.hour = p.hour
        |)
        |SELECT user_id, hour, n_events,
        |       last_value(last_val IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY hour) AS filled_val
        |FROM j
        |ORDER BY user_id, hour""".stripMargin

  // --- streaming dedup (state-store keyed) ----------------------------------
  /** Streaming exact dedup on event_id: duplicates arriving within the
    * watermark horizon are dropped by the state store; state for ids older
    * than the watermark is evicted (bounded memory — the property that
    * makes streaming dedup viable at all; an unwatermarked dropDuplicates
    * would grow state forever). The batch twin is the dedup_exact
    * operator family. */
  def dedupStream(eventsWithTime: DataFrame): DataFrame =
    eventsWithTime
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  // --- stream-static point-in-time enrichment -------------------------------
  /** A stream of observation events LEFT-joined to a STATIC SCD-2
    * dimension at each event's own timestamp — the online half of
    * `scd2_pit_join` (feature serving with the same no-leakage contract
    * the batch operator trains against). Stream-static joins are
    * stateless: every micro-batch joins against the current static
    * relation, so there is no watermark and no state store to bound; the
    * dimension broadcasts when it fits and degrades to a shuffle join
    * when it doesn't. Re-reading the dim per trigger (a `spark.read` in
    * a foreachBatch) picks up the dimension's latest rewrite — that
    * composition is the serving loop. */
  def pitEnrichStream(obs: DataFrame, dim: DataFrame): DataFrame =
    obs.join(dim,
      obs("user_id") === dim("user_id") &&
        dim("valid_from") <= obs("ts_ms") &&
        (dim("valid_to").isNull || obs("ts_ms") < dim("valid_to")),
      "left")
      .select(obs("event_id"), obs("user_id"), obs("ts_ms"),
        dim("status").as("status_at"), dim("version").as("status_version"))

  // --- stream-stream interval join ------------------------------------------
  /** Watermarked stream-stream join: each click pairs with the same user's
    * views from the preceding 30 minutes. Both sides carry watermarks and
    * the join condition bounds event-time distance, so the state store can
    * expire rows once the other side's watermark passes — the canonical
    * interval-join shape (ad attribution, trade-vs-quote). The batch twin
    * is the time_pair_join / asof_join family. */
  def clickViewJoin(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_time", "10 minutes")
    val v = views.withWatermark("view_time", "10 minutes")
    c.join(v,
      expr("""click_user = view_user AND
             |click_time >= view_time AND
             |click_time <= view_time + interval 30 minutes""".stripMargin))
  }

  // --- stateful streaming (mapGroupsWithState) ------------------------------
  case class Ev(user_id: Long, ts_ms: Long, value: Double)
  case class UserCount(user_id: Long, n_events: Long)
  case class SessionState(start_ms: Long, last_ms: Long, n: Long)
  case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** Running per-user event counts with explicit keyed state — the
    * mapGroupsWithState shape a custom stateful operator (sessionization
    * with timeouts, CEP, enrichment caches) drops into. Update output
    * mode; state is one long per user. */
  def runningUserCounts(evs: Dataset[Ev]): Dataset[UserCount] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          val next = state.getOption.getOrElse(0L) + it.size
          state.update(next)
          UserCount(uid, next)
      }
  }

  /** Streaming gap-sessionization with explicit keyed state
    * (flatMapGroupsWithState): per user, events extend the open session
    * while the gap stays under the threshold; an over-gap event closes
    * and EMITS the previous session and opens a new one. The batch twin
    * is [[sessionize]] — same gap rule, windows instead of state. Closed
    * sessions are emitted as they close (append mode); the final open
    * session stays in state (a production run would close it via an
    * event-time timeout once the watermark passes the gap). */
  def sessionizeStateful(evs: Dataset[Ev], gapMs: Long = 1800000L): Dataset[ClosedSession] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        val sorted = it.toSeq.sortBy(e => (e.ts_ms, e.value))
        val closed = Seq.newBuilder[ClosedSession]
        var cur = state.getOption
        sorted.foreach { e =>
          cur match {
            case Some(s) if e.ts_ms - s.last_ms <= gapMs =>
              cur = Some(s.copy(last_ms = e.ts_ms, n = s.n + 1))
            case Some(s) =>
              closed += ClosedSession(uid, s.start_ms, s.last_ms, s.n)
              cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
            case None =>
              cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
          }
        }
        cur.foreach(state.update)
        closed.result().iterator
      }
  }
}
