package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Behavioral analytics over the `events` stream — the funnel / cohort /
  * path family every product-analytics deployment of the reference's
  * XR-event pipeline would ask for next (SURVEY §2.9 extension; the
  * reference's own analytics stop at per-user windows, process.py:147-204).
  *
  * All three operators are built on the same scale shape: ONE hash
  * exchange on `user_id`, with every per-user computation (ordered lag,
  * unordered conditional mins, first-touch cohort) expressed as window or
  * grouped aggregation over that partitioning so Catalyst reuses the
  * exchange instead of re-shuffling. Event timestamps are exact epoch-ms
  * longs (Tables.events) and every derived ratio is a single division of
  * exact counts, so the DuckDB twins hash-match bit-for-bit.
  */
object EventAnalytics {

  /** Funnel stages shared with the oracle SQL (order matters). */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  // --- ordered conversion funnel -------------------------------------------
  /** Strictly-ordered funnel view → click → purchase: a user converts at
    * stage k iff an event of that type happened AFTER their stage-(k-1)
    * conversion time. The three first-conversion times are chained
    * conditional mins over ONE user-partitioned window (no ORDER BY, so
    * no sort — each min scans the partition), then one row per user and a
    * single global count-triple roll-up.
    *
    * Scale shape: one exchange on user_id feeds all three Window ops AND
    * the per-user dedup (same key → exchange reuse); the final aggregate
    * is the canonical map-side-partial global reduction — only one count
    * triple per input partition crosses the single-partition exchange
    * (PlanGuardSpec sanctions it alongside tfidf_terms' N). */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame =
    eventsFunnelFrom(Tables.events(spark, dir))

  /** Core of [[eventsFunnel]] over any (user_id, event_type, ts_ms) frame —
    * split out so the ordering-semantics spec can feed synthetic journeys
    * (the embNearDupFrom pattern). */
  private[graft] def eventsFunnelFrom(events: DataFrame): DataFrame = {
    val Seq(t1, t2, t3) = FunnelStages
    val wu = Window.partitionBy("user_id")
    val staged = events
      .select(col("user_id"), col("event_type"), col("ts_ms"))
      .withColumn("s1", min(when(col("event_type") === t1, col("ts_ms"))).over(wu))
      .withColumn("s2", min(when(col("event_type") === t2 &&
        col("ts_ms") > col("s1"), col("ts_ms"))).over(wu))
      .withColumn("s3", min(when(col("event_type") === t3 &&
        col("ts_ms") > col("s2"), col("ts_ms"))).over(wu))
    staged
      .groupBy(col("user_id"))
      .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"), max(col("s3")).as("s3"))
      .agg(count(col("s1")).as("n1"), count(col("s2")).as("n2"),
        count(col("s3")).as("n3"))
      .selectExpr(
        s"""stack(3,
           |  1, '$t1', n1, CAST(NULL AS DOUBLE),
           |  2, '$t2', n2, CASE WHEN n1 > 0 THEN n2 / CAST(n1 AS DOUBLE) END,
           |  3, '$t3', n3, CASE WHEN n2 > 0 THEN n3 / CAST(n2 AS DOUBLE) END
           |) AS (stage_idx, stage, n_users, conv_from_prev)""".stripMargin)
      .orderBy(col("stage_idx"))
  }

  val eventsFunnelSql: String = {
    // interpolated from FunnelStages — a one-sided stage edit cannot
    // silently desync the twin
    val Seq(t1, t2, t3) = FunnelStages
    Tables.eventsOracleCte +
      s""", u1 AS (
        |  SELECT user_id, min(CASE WHEN event_type = '$t1' THEN ts_ms END) AS s1
        |  FROM ev GROUP BY 1
        |), u2 AS (
        |  SELECT ev.user_id, u1.s1,
        |         min(CASE WHEN event_type = '$t2' AND ts_ms > s1 THEN ts_ms END) AS s2
        |  FROM ev JOIN u1 USING (user_id) GROUP BY 1, 2
        |), u3 AS (
        |  SELECT ev.user_id, u2.s1, u2.s2,
        |         min(CASE WHEN event_type = '$t3' AND ts_ms > s2 THEN ts_ms END) AS s3
        |  FROM ev JOIN u2 USING (user_id) GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT CAST(count(s1) AS BIGINT) AS n1, CAST(count(s2) AS BIGINT) AS n2,
        |         CAST(count(s3) AS BIGINT) AS n3
        |  FROM u3
        |)
        |SELECT stage_idx, stage, n_users, conv_from_prev FROM (
        |  SELECT 1 AS stage_idx, '$t1' AS stage, n1 AS n_users,
        |         CAST(NULL AS DOUBLE) AS conv_from_prev FROM agg
        |  UNION ALL
        |  SELECT 2, '$t2', n2,
        |         CASE WHEN n1 > 0 THEN n2 / CAST(n1 AS DOUBLE) END FROM agg
        |  UNION ALL
        |  SELECT 3, '$t3', n3,
        |         CASE WHEN n2 > 0 THEN n3 / CAST(n2 AS DOUBLE) END FROM agg
        |)
        |ORDER BY stage_idx""".stripMargin
  }

  // --- weekly cohort retention ---------------------------------------------
  /** Classic retention matrix: users are cohorted by the epoch-week of
    * their FIRST event, and each (cohort_week, week_offset) cell counts
    * how many of them were active that many weeks later, as a fraction of
    * the cohort. Weeks are exact integer epoch-ms arithmetic — no
    * timezone/calendar semantics to diverge on (the eventWindowAgg
    * precedent).
    *
    * Scale shape: the event-scale side crosses exactly ONE exchange — a
    * user-keyed aggregation whose map-side partial both dedups the weeks
    * (collect_set) and takes the first-touch min, so per-user rows arrive
    * already collapsed to at most |weeks| entries. Everything after is
    * weeks-bounded: explode to (cohort, offset) pairs, one tiny cell
    * aggregation, and the cohort size read off the offset-0 cell by a
    * cohort-partitioned window (every user is by definition active in
    * their own first week) — no second events pass, no size join. */
  def retentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val wc = Window.partitionBy("cohort_week")
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts_ms div 604800000").as("week"))
      .groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"), collect_set(col("week")).as("wks"))
      .select(col("cohort_week"), explode(col("wks")).as("week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(wc))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active") / col("cohort_size").cast("double")).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionCohortSql: String =
    Tables.eventsOracleCte +
      """, wk AS (
        |  SELECT DISTINCT user_id, ts_ms // 604800000 AS week FROM ev
        |), firsts AS (
        |  SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1
        |), sizes AS (
        |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM firsts GROUP BY 1
        |), cells AS (
        |  SELECT f.cohort_week, w.week - f.cohort_week AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_active
        |  FROM wk w JOIN firsts f USING (user_id)
        |  GROUP BY 1, 2
        |)
        |SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
        |       c.n_active / CAST(s.cohort_size AS DOUBLE) AS retention
        |FROM cells c JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin

  // --- event-type transition matrix ----------------------------------------
  /** First-order Markov transitions: consecutive event pairs per user
    * (ordered by (ts_ms, event_id) — a total order, so lag is
    * deterministic), counted into a type×type matrix with per-source
    * transition probabilities. Path analysis, anomaly scoring, and
    * next-event prediction baselines all start here.
    *
    * Scale shape: the lag window rides the one user_id exchange; only
    * type-pair counts (bounded by |types|²) shuffle for the aggregation,
    * and the per-row probability window partitions by prev_type over that
    * tiny frame. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val wp = Window.partitionBy("prev_type")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") / sum(col("n")).over(wp).cast("double"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  // --- top user journey paths ----------------------------------------------
  /** Most common session-opening journeys: each user's first `depth`
    * events (by the (ts_ms, event_id) total order) joined into a path
    * string, counted, top-k. The "what do users actually do first"
    * companion to the funnel's fixed hypothesis.
    *
    * Scale shape: ONE user-keyed aggregation — collect_list partials
    * merge map-side and array_sort makes the result independent of
    * arrival order (collect_list alone is partition-order-dependent;
    * sorting by the unique (ts_ms, event_id) prefix restores
    * determinism); per-user state is capped by each user's event count,
    * and the path aggregation touches |users| rows, not events. */
  def userPaths(spark: SparkSession, dir: String,
                depth: Int = 5, topK: Int = 10): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(expr(
        s"""array_join(transform(
           |  slice(array_sort(collect_list(struct(ts_ms, event_id, event_type))), 1, $depth),
           |  x -> x.event_type), ' > ')""".stripMargin).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topK)

  val userPathsSql: String =
    Tables.eventsOracleCte +
      """, ranked AS (
        |  SELECT user_id, event_type, ts_ms, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts_ms, event_id) AS rn
        |  FROM ev
        |), paths AS (
        |  SELECT user_id,
        |         string_agg(event_type, ' > ' ORDER BY ts_ms, event_id) AS path
        |  FROM ranked WHERE rn <= 5
        |  GROUP BY 1
        |)
        |SELECT path, count(*) AS n_users
        |FROM paths GROUP BY 1
        |ORDER BY n_users DESC, path
        |LIMIT 10""".stripMargin

  // --- SCD-2 history build --------------------------------------------------
  /** Type-2 slowly-changing-dimension history from a change log: each
    * user's event_type stream is compressed to its CHANGE points (a row
    * survives only when it differs from the previous one — the SCD
    * "don't version no-op updates" rule) and each change gets a validity
    * interval [valid_from, valid_to) closed by the next change, open for
    * the current row. The standard warehouse dimension build, expressed
    * as two window passes instead of the MERGE-loop a row-store runs.
    *
    * Scale shape: ONE user_id exchange; the change-point filter preserves
    * the sort order, so the second (lead) window reuses both the
    * partitioning and the sort. Output is change-points-sized, not
    * events-sized. */
  /** SCD-2 core over an arbitrary (user_id, event_type, ts_ms, event_id)
    * frame — shared by the registered batch query and [[scd2PitJoin]]'s
    * dimension. */
  private[graft] def scd2From(events: DataFrame,
                              ordered: Boolean = true): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val base = events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      // the version number makes (user_id, version) a TOTAL order even
      // when several change events share one coarsened millisecond —
      // without it, same-ms versions of the same status would make the
      // output ordering (and the spec's interval chaining) ambiguous
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ts_ms"), 1).over(w))
    val out = base.select(col("user_id"), col("version"), col("event_type").as("status"),
      col("ts_ms").as("valid_from"), col("valid_to"),
      col("valid_to").isNull.as("is_current"))
    // the ORDER BY is the scd2_status QUERY's output contract; internal
    // consumers ([[scd2PitJoin]]) skip it — a sort the next operator
    // immediately destroys is a wasted range exchange
    if (ordered) out.orderBy(col("user_id"), col("version")) else out
  }

  def scd2Status(spark: SparkSession, dir: String): DataFrame =
    scd2From(Tables.events(spark, dir))

  val scd2StatusSql: String =
    Tables.eventsOracleCte +
      """, marked AS (
        |  SELECT user_id, event_type, ts_ms, event_id,
        |         lag(event_type, 1) OVER (PARTITION BY user_id
        |                                  ORDER BY ts_ms, event_id) AS prev
        |  FROM ev
        |), changes AS (
        |  SELECT user_id, event_type, ts_ms, event_id FROM marked
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id,
        |       CAST(row_number() OVER w AS INT) AS version,
        |       event_type AS status, ts_ms AS valid_from,
        |       lead(ts_ms, 1) OVER w AS valid_to,
        |       lead(ts_ms, 1) OVER w IS NULL AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |ORDER BY user_id, version""".stripMargin

  // --- point-in-time (as-of) dimension join --------------------------------
  /** Each purchase event joined to the SCD-2 profile status (derived from
    * the user's NON-purchase events) that was valid AT the purchase's
    * timestamp — the point-in-time feature lookup a training pipeline
    * needs to avoid label leakage: a feature row must reflect the
    * dimension as of the observation, never a later version. Purchases
    * before a user's first status change carry NULL (left as-of).
    *
    * Spark-first this is NOT a range join at all: change rows and
    * observation rows UNION into one stream, one window partitioned by
    * user_id carries the latest non-null status forward (changes sort
    * before observations at the same millisecond, same-ms change bursts
    * in version order so the last version wins — exactly the
    * `valid_from <= ts < valid_to` interval semantics), and the
    * observations filter back out. One exchange on user_id, no join, no
    * per-interval expansion — at 100 TB the equivalent interval join
    * would shuffle the dimension per event; this ships each change row
    * once. The oracle keeps the literal interval-join form, so the
    * rewrite is independently validated row-for-row. */
  def scd2PitJoin(spark: SparkSession, dir: String): DataFrame =
    scd2PitJoinFrom(Tables.events(spark, dir))

  /** Event-frame-parameterized body so the skew spec can feed a hot-user
    * stream through the REAL pipeline. */
  private[graft] def scd2PitJoinFrom(ev: DataFrame): DataFrame = {
    val dim = scd2From(ev.filter(col("event_type") =!= "purchase"), ordered = false)
    val changes = dim.select(col("user_id"), col("valid_from").as("ts_ms"),
      lit(0).as("is_obs"), col("version").cast("long").as("tie"),
      col("status"), col("version"), lit(null).cast("long").as("event_id"))
    val obs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"),
        lit(1).as("is_obs"), col("event_id").as("tie"),
        lit(null).cast("string").as("status"),
        lit(null).cast("int").as("version"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("is_obs"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes.unionByName(obs)
      .withColumn("status_at", last(col("status"), ignoreNulls = true).over(w))
      .withColumn("status_version", last(col("version"), ignoreNulls = true).over(w))
      .filter(col("is_obs") === 1)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("status_at"), col("status_version"))
      .orderBy(col("event_id"))
  }

  val scd2PitJoinSql: String =
    Tables.eventsOracleCte +
      """, marked AS (
        |  SELECT user_id, event_type, ts_ms, event_id,
        |         lag(event_type, 1) OVER (PARTITION BY user_id
        |                                  ORDER BY ts_ms, event_id) AS prev
        |  FROM ev WHERE event_type <> 'purchase'
        |), dim AS (
        |  SELECT user_id,
        |         CAST(row_number() OVER w AS INT) AS version,
        |         event_type AS status, ts_ms AS valid_from,
        |         lead(ts_ms, 1) OVER w AS valid_to
        |  FROM (SELECT * FROM marked WHERE prev IS NULL OR prev <> event_type)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), obs AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_type = 'purchase'
        |)
        |SELECT o.event_id, o.user_id, o.ts_ms,
        |       d.status AS status_at, d.version AS status_version
        |FROM obs o LEFT JOIN dim d
        |  ON d.user_id = o.user_id
        | AND d.valid_from <= o.ts_ms
        | AND (d.valid_to IS NULL OR o.ts_ms < d.valid_to)
        |ORDER BY o.event_id""".stripMargin

  // --- label-horizon (look-ahead) join --------------------------------------
  /** The other half of leakage-aware training-set construction:
    * [[scd2PitJoin]] looks BACKWARD for features; this looks FORWARD for
    * labels. Each click event gets `label` = did the same user purchase
    * within the next hour (strictly after the click — a same-millisecond
    * purchase does not count), plus `ms_to_purchase` for the positives.
    *
    * Same union-window rewrite as the PIT join, run in REVERSE time
    * order: purchases and clicks union into one stream, a user-window
    * sorted by ts DESCENDING (clicks before purchases at equal ts, so
    * same-ms purchases are invisible to the click) carries the nearest
    * FUTURE purchase time backward, and the horizon comparison closes the
    * label. One exchange on user_id, no join, no per-pair expansion —
    * the EXISTS-subquery form the oracle keeps would re-scan purchases
    * per click at scale. */
  /** Shared with the oracle SQL and the streaming form so non-default
    * call sites can't diverge. */
  val LabelHorizonMs: Long = 3600000L

  def labelHorizon(spark: SparkSession, dir: String): DataFrame =
    labelHorizonFrom(Tables.events(spark, dir))

  /** Event-frame-parameterized body (the scd2PitJoinFrom pattern). */
  private[graft] def labelHorizonFrom(ev: DataFrame): DataFrame = {
    val horizonMs = LabelHorizonMs
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"), lit(1).as("is_purchase"),
        col("ts_ms").as("purchase_ts"), lit(null).cast("long").as("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_ms"), lit(0).as("is_purchase"),
        lit(null).cast("long").as("purchase_ts"), col("event_id"))
    // ts DESC; at equal ts clicks first (is_purchase asc) so a same-ms
    // purchase is not yet visible when the click is scanned
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").desc, col("is_purchase").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("next_purchase_ts",
        last(col("purchase_ts"), ignoreNulls = true).over(w))
      .filter(col("is_purchase") === 0)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        (col("next_purchase_ts").isNotNull &&
          col("next_purchase_ts") - col("ts_ms") <= horizonMs).as("label"),
        when(col("next_purchase_ts").isNotNull &&
          col("next_purchase_ts") - col("ts_ms") <= horizonMs,
          col("next_purchase_ts") - col("ts_ms")).as("ms_to_purchase"))
      .orderBy(col("event_id"))
  }

  val labelHorizonSql: String =
    Tables.eventsOracleCte +
      s""", clicks AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_type = 'click'
        |), purchases AS (
        |  SELECT user_id, ts_ms FROM ev WHERE event_type = 'purchase'
        |), nearest AS (
        |  SELECT c.event_id, c.user_id, c.ts_ms,
        |         (SELECT min(p.ts_ms) FROM purchases p
        |          WHERE p.user_id = c.user_id AND p.ts_ms > c.ts_ms) AS next_purchase_ts
        |  FROM clicks c
        |)
        |SELECT event_id, user_id, ts_ms,
        |       (next_purchase_ts IS NOT NULL
        |        AND next_purchase_ts - ts_ms <= $LabelHorizonMs) AS label,
        |       CASE WHEN next_purchase_ts IS NOT NULL
        |                 AND next_purchase_ts - ts_ms <= $LabelHorizonMs
        |            THEN next_purchase_ts - ts_ms END AS ms_to_purchase
        |FROM nearest
        |ORDER BY event_id""".stripMargin

  // --- per-type z-score outliers -------------------------------------------
  /** Anomalous event values: per event_type mean/stddev, events with
    * |z| ≥ 3 reported. The moments accumulate as DECIMAL(18,6)-quantized
    * sums (value and value², both exact rationals) so mean and variance
    * are order-independent; the remaining double math (division, sqrt —
    * both correctly-rounded IEEE) runs on identical inputs in both
    * engines, making the z threshold comparison deterministic.
    *
    * Scale shape: the per-type stats are a 5-row aggregate BROADCAST back
    * into a second events scan — deliberately NOT a window partitioned by
    * event_type, which would sort the whole corpus into |types| giant
    * partitions (the low-cardinality-window hazard PlanGuardSpec exists
    * for). Two scans, one tiny shuffle, no corpus sort. */
  def eventsZscore(spark: SparkSession, dir: String, threshold: Double = 3.0): DataFrame = {
    val v6 = expr("cast(round(value, 6) as decimal(18,6))")
    val stats = Tables.events(spark, dir)
      .select(col("event_type"), v6.as("v"))
      .groupBy(col("event_type"))
      // both moments re-quantize to scale 6 BEFORE the double cast: the
      // raw sum(v*v) is DECIMAL(38,12), and a 12-scale int128-backed
      // decimal → double conversion double-rounds in some engines
      // (integer part alone exceeds 2^53). Precision stays 38 so the
      // cast can NEVER overflow to null (a DECIMAL(18,6) here silently
      // nulled out above |sum| = 10^12 in Spark and errored in DuckDB);
      // bit-exact cross-engine parity holds while |sum| < 2^53/10^6
      // (~9·10^9 — three orders past the sf0.1 moments), beyond which
      // the two engines may differ in the final ulp of a ~1e10 moment —
      // far below the z-threshold's sensitivity
      .agg(count(lit(1)).as("n"),
        expr("cast(cast(sum(v) as decimal(38,6)) as double)").as("s"),
        expr("cast(cast(sum(v * v) as decimal(38,6)) as double)").as("ss"))
      // greatest(·, 0): a catastrophically-cancelled variance can land a
      // hair negative — DuckDB would abort on sqrt(negative) while Spark
      // returns NaN; clamped, a zero-variance type just yields sd = 0
      .select(col("event_type"), (col("s") / col("n")).as("mean"),
        sqrt(greatest((col("ss") - col("s") * col("s") / col("n")) / col("n"),
          lit(0.0))).as("sd"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(stats), "event_type")
      // sd > 0 guard: zero-variance types produce NO outliers by
      // definition — without it Spark's x/0 → null silently drops rows
      // while DuckDB's IEEE division keeps ±inf rows, splitting the
      // engines
      .filter(col("sd") > 0)
      .withColumn("z", (v6.cast("double") - col("mean")) / col("sd"))
      .filter(abs(col("z")) >= threshold)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  val eventsZscoreSql: String =
    Tables.eventsOracleCte +
      """, q AS (
        |  SELECT event_id, event_type, value,
        |         CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM ev
        |), st AS (
        |  SELECT event_type,
        |         CAST(CAST(sum(v) AS DECIMAL(38,6)) AS DOUBLE) / count(*) AS mean,
        |         sqrt(greatest((CAST(CAST(sum(v * v) AS DECIMAL(38,6)) AS DOUBLE)
        |               - CAST(CAST(sum(v) AS DECIMAL(38,6)) AS DOUBLE)
        |                 * CAST(CAST(sum(v) AS DECIMAL(38,6)) AS DOUBLE) / count(*))
        |              / count(*), 0)) AS sd
        |  FROM q GROUP BY 1
        |)
        |SELECT event_id, q.event_type, value,
        |       (CAST(v AS DOUBLE) - mean) / sd AS z
        |FROM q JOIN st ON q.event_type = st.event_type
        |WHERE sd > 0 AND abs((CAST(v AS DOUBLE) - mean) / sd) >= 3
        |ORDER BY event_id""".stripMargin

  // --- time-decayed trending score -----------------------------------------
  /** Half-life shared with the oracle SQL. */
  val TrendHalfLifeDays: Double = 7.0

  /** Exponentially time-decayed event counts per type — the "trending"
    * ranking (an event today counts 1, one half-life ago counts 0.5, …):
    * recency-weighted popularity in ONE scan, no windowing, no
    * per-period sub-aggregation. Each decay weight quantizes to
    * DECIMAL(18,6) immediately after the transcendental (the lmScore
    * contract — the sum is then order-independent and engine-identical),
    * and the reference "now" is the corpus max timestamp (broadcast
    * one-row scalar), so the query is a pure function of the data.
    *
    * Scale shape: scan → per-type partial sums → 5-row result. The
    * incremental form at 100 TB is the same math: decayed sums compose
    * (S(t+Δ) = S(t)·2^(-Δ/h) + new events), so daily partials merge. */
  def trendingEvents(spark: SparkSession, dir: String): DataFrame = {
    val mx = Tables.events(spark, dir).agg(max(col("ts_ms")).as("max_ts"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("ts_ms"))
      .crossJoin(broadcast(mx))
      .withColumn("w", expr(
        s"cast(exp(-(ln(2.0) * ((cast(max_ts as double) - cast(ts_ms as double)) " +
          s"/ 86400000.0)) / $TrendHalfLifeDays) as decimal(18,6))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("cast(sum(w) as double)").as("trend_score"))
      .orderBy(col("trend_score").desc, col("event_type"))
  }

  val trendingEventsSql: String =
    Tables.eventsOracleCte +
      s""", mx AS (
         |  SELECT max(ts_ms) AS max_ts FROM ev
         |), q AS (
         |  SELECT event_type,
         |         CAST(exp(-(ln(2.0) * ((CAST(max_ts AS DOUBLE) - CAST(ts_ms AS DOUBLE))
         |                               / 86400000.0)) / $TrendHalfLifeDays)
         |              AS DECIMAL(18,6)) AS w
         |  FROM ev CROSS JOIN mx
         |)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(w) AS DOUBLE) AS trend_score
         |FROM q GROUP BY 1
         |ORDER BY trend_score DESC, event_type""".stripMargin

  // --- session-scoped funnel -----------------------------------------------
  /** Gap shared with the oracle SQL so non-default call sites can't
    * diverge (same 30 min as the sessionize family). */
  val SessionFunnelGapMs: Long = 1800000L

  /** [[eventsFunnel]] denominated in SESSIONS: the conversion must
    * complete within one gap-session (30 min inactivity closes it), the
    * standard product-analytics framing — a purchase three days after
    * the view is a new journey, not a conversion. Sessionization is the
    * lag/running-sum pair over the user-ordered window; the funnel is
    * the same chained conditional mins re-partitioned by
    * (user, session).
    *
    * Scale shape: one exchange on user_id for the ordered
    * session-numbering window, one on (user_id, sess_no) feeding all
    * three funnel windows AND the per-session dedup (same key →
    * exchange reuse), then the sanctioned one-triple-per-partition
    * global roll-up. Session partitions are bounded by a user's
    * per-session activity — never corpus-scale. */
  def sessionFunnel(spark: SparkSession, dir: String,
                    gapMs: Long = SessionFunnelGapMs): DataFrame = {
    val Seq(t1, t2, t3) = FunnelStages
    val wo = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(wo))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("new_sess")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy("user_id", "sess_no")
    val staged = sess
      .withColumn("s1", min(when(col("event_type") === t1, col("ts_ms"))).over(ws))
      .withColumn("s2", min(when(col("event_type") === t2 &&
        col("ts_ms") > col("s1"), col("ts_ms"))).over(ws))
      .withColumn("s3", min(when(col("event_type") === t3 &&
        col("ts_ms") > col("s2"), col("ts_ms"))).over(ws))
    staged
      .groupBy(col("user_id"), col("sess_no"))
      .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"), max(col("s3")).as("s3"))
      .agg(count(col("s1")).as("n1"), count(col("s2")).as("n2"),
        count(col("s3")).as("n3"))
      .selectExpr(
        s"""stack(3,
           |  1, '$t1', n1, CAST(NULL AS DOUBLE),
           |  2, '$t2', n2, CASE WHEN n1 > 0 THEN n2 / CAST(n1 AS DOUBLE) END,
           |  3, '$t3', n3, CASE WHEN n2 > 0 THEN n3 / CAST(n2 AS DOUBLE) END
           |) AS (stage_idx, stage, n_sessions, conv_from_prev)""".stripMargin)
      .orderBy(col("stage_idx"))
  }

  val sessionFunnelSql: String = {
    val Seq(t1, t2, t3) = FunnelStages
    Tables.eventsOracleCte +
      s""", sl AS (
         |  SELECT user_id, event_type, ts_ms, event_id,
         |         lag(ts_ms, 1) OVER (PARTITION BY user_id
         |                             ORDER BY ts_ms, event_id) AS prev_ts
         |  FROM ev
         |), sn AS (
         |  SELECT user_id, event_type, ts_ms,
         |         CAST(sum(CASE WHEN prev_ts IS NULL
         |                       OR ts_ms - prev_ts > $SessionFunnelGapMs
         |                       THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS sess_no
         |  FROM sl
         |), u1 AS (
         |  SELECT user_id, sess_no,
         |         min(CASE WHEN event_type = '$t1' THEN ts_ms END) AS s1
         |  FROM sn GROUP BY 1, 2
         |), u2 AS (
         |  SELECT sn.user_id, sn.sess_no, u1.s1,
         |         min(CASE WHEN event_type = '$t2' AND ts_ms > s1 THEN ts_ms END) AS s2
         |  FROM sn JOIN u1 USING (user_id, sess_no) GROUP BY 1, 2, 3
         |), u3 AS (
         |  SELECT sn.user_id, sn.sess_no, u2.s1, u2.s2,
         |         min(CASE WHEN event_type = '$t3' AND ts_ms > s2 THEN ts_ms END) AS s3
         |  FROM sn JOIN u2 USING (user_id, sess_no) GROUP BY 1, 2, 3, 4
         |), agg AS (
         |  SELECT CAST(count(s1) AS BIGINT) AS n1, CAST(count(s2) AS BIGINT) AS n2,
         |         CAST(count(s3) AS BIGINT) AS n3
         |  FROM u3
         |)
         |SELECT stage_idx, stage, n_sessions, conv_from_prev FROM (
         |  SELECT 1 AS stage_idx, '$t1' AS stage, n1 AS n_sessions,
         |         CAST(NULL AS DOUBLE) AS conv_from_prev FROM agg
         |  UNION ALL
         |  SELECT 2, '$t2', n2,
         |         CASE WHEN n1 > 0 THEN n2 / CAST(n1 AS DOUBLE) END FROM agg
         |  UNION ALL
         |  SELECT 3, '$t3', n3,
         |         CASE WHEN n2 > 0 THEN n3 / CAST(n2 AS DOUBLE) END FROM agg
         |)
         |ORDER BY stage_idx""".stripMargin
  }

  // --- robust (MAD) outliers -----------------------------------------------
  /** Robust twin of [[eventsZscore]]: median / median-absolute-deviation
    * instead of mean / stddev, so a burst of extreme values cannot mask
    * itself by inflating its own yardstick (the classic z-score failure
    * on heavy-tailed telemetry — the outliers drag the stddev up until
    * nothing is 3σ out). Values quantize through DECIMAL(18,6) once, so
    * the medians interpolate identical doubles in both engines
    * (median_iqr's validated contract); deviations and the score are
    * then identical IEEE arithmetic on identical inputs.
    *
    * Scale shape: two aggregation passes (per-type median, then per-type
    * deviation median) with the 5-row results BROADCAST back — like the
    * z-score, deliberately NOT a per-type window. Exact medians sort per
    * group; at 100 TB swap approx_percentile into the same plan (the
    * approx_pctl_check contract). */
  /** Outlier multiplier shared with the oracle SQL. */
  val MadK: Double = 6.0

  def eventsMad(spark: SparkSession, dir: String, k: Double = MadK): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        expr("cast(cast(round(value, 6) as decimal(18,6)) as double)").as("v"))
    val med = ev.groupBy(col("event_type")).agg(expr("median(v)").as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("v") - col("med")).as("absdev"))
      .groupBy(col("event_type")).agg(expr("median(absdev)").as("mad"))
    ev.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      // mad > 0 guard: a zero-MAD type (over half the values identical)
      // defines no outliers — and Spark's x/0 -> NULL vs IEEE inf would
      // split the engines (the z-score sd guard)
      .filter(col("mad") > 0 && abs(col("v") - col("med")) > col("mad") * lit(k))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("v") - col("med")) / col("mad")).as("score"))
      .orderBy(col("event_id"))
  }

  val eventsMadSql: String =
    Tables.eventsOracleCte +
      s""", q AS (
        |  SELECT event_id, event_type, value,
        |         CAST(CAST(round(value, 6) AS DECIMAL(18,6)) AS DOUBLE) AS v
        |  FROM ev
        |), med AS (
        |  SELECT event_type, median(v) AS med FROM q GROUP BY 1
        |), mad AS (
        |  SELECT q.event_type, median(abs(v - med.med)) AS mad
        |  FROM q JOIN med ON q.event_type = med.event_type
        |  GROUP BY 1
        |)
        |SELECT event_id, q.event_type, value, (v - med.med) / mad.mad AS score
        |FROM q
        |JOIN med ON q.event_type = med.event_type
        |JOIN mad ON q.event_type = mad.event_type
        |WHERE mad.mad > 0 AND abs(v - med.med) > mad.mad * $MadK
        |ORDER BY event_id""".stripMargin

  // --- stateful streaming funnel tracker -----------------------------------
  /** event_id defaults to 0 for sources that don't carry one; when
    * present it is the (ts_ms, event_id) tiebreak that makes equal-
    * timestamp ordering deterministic across runs (the batch twin's
    * total order). */
  case class FunnelEv(user_id: Long, event_type: String, ts_ms: Long,
                      event_id: Long = 0L)
  case class FunnelState(s1: Option[Long], s2: Option[Long], s3: Option[Long]) {
    def stage: Int = Seq(s1, s2, s3).takeWhile(_.isDefined).size
  }
  case class FunnelProgress(user_id: Long, stage: Int,
                            s1: Option[Long], s2: Option[Long], s3: Option[Long])

  /** Streaming form of [[eventsFunnel]]: per-user funnel progress as
    * explicit keyed state (mapGroupsWithState — three optional longs per
    * user). Events are applied in ts order within each group call; a
    * stage-k event converts only if it lands strictly after the recorded
    * stage-(k-1) time, exactly the batch rule. With per-user in-order
    * delivery the final states reproduce the batch twin bit-for-bit
    * (spec-pinned on the fixture); a LATE-arriving earlier view cannot
    * retroactively convert a click that was already discarded — the
    * standard streaming-funnel approximation, resolved by replaying
    * through the batch twin (the lambda the incrementalDedup family
    * already documents).
    *
    * Scale shape: state is three longs per user behind the state store;
    * in batch mode each user's events arrive as one group call, so the
    * operator doubles as a Dataset-API funnel with identical results. */
  def funnelStateful(evs: Dataset[FunnelEv]): Dataset[FunnelProgress] = {
    import evs.sparkSession.implicits._
    val Seq(t1, t2, t3) = FunnelStages
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelProgress](GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          it.toSeq.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
            st = e.event_type match {
              case `t1` if st.s1.isEmpty => st.copy(s1 = Some(e.ts_ms))
              case `t2` if st.s2.isEmpty && st.s1.exists(e.ts_ms > _) =>
                st.copy(s2 = Some(e.ts_ms))
              case `t3` if st.s3.isEmpty && st.s2.exists(e.ts_ms > _) =>
                st.copy(s3 = Some(e.ts_ms))
              case _ => st
            }
          }
          state.update(st)
          FunnelProgress(uid, st.stage, st.s1, st.s2, st.s3)
      }
  }

  case class FunnelStateLate(s1: Option[Long], s2: Option[Long], s3: Option[Long],
                             maxSeen: Long, late: Long) {
    def stage: Int = Seq(s1, s2, s3).takeWhile(_.isDefined).size
  }
  case class FunnelProgressLate(user_id: Long, stage: Int,
                                s1: Option[Long], s2: Option[Long], s3: Option[Long],
                                late_events: Long)

  /** [[funnelStateful]] with the late-data policy made explicit instead
    * of implicit: an event whose ts precedes the newest event already
    * processed for its user arrived LATE (a later micro-batch outran it),
    * and this variant DROPS it and counts it — the per-key analog of
    * what an event-time watermark does to a streaming aggregation, with
    * the count surfaced per user instead of buried in a metric.
    *
    * The two variants bracket the design space the batch replay resolves:
    * [[funnelStateful]] still applies a late event to an empty slot
    * (maximal salvage, no retroactive conversion — pinned by its spec);
    * this one refuses all late data (deterministic under any arrival
    * order of DISTINCT timestamps once per-batch sorting is applied, and
    * `late_events` tells the operator exactly how much truth the
    * streaming answer is missing — the signal to trigger a batch replay).
    * Ties (ts == maxSeen) are on time: equal-ts events sort together in
    * batch, so refusing them would diverge from in-order delivery.
    *
    * Scale shape: identical to [[funnelStateful]] — two more longs of
    * per-user state behind the state store, no extra shuffle. */
  def funnelStatefulLate(evs: Dataset[FunnelEv]): Dataset[FunnelProgressLate] = {
    import evs.sparkSession.implicits._
    val Seq(t1, t2, t3) = FunnelStages
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelStateLate, FunnelProgressLate](GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(
            FunnelStateLate(None, None, None, Long.MinValue, 0L))
          // (ts_ms, event_id) — the same total order as the batch twin,
          // so equal-timestamp events within a micro-batch apply in a
          // deterministic order, not arrival order.
          it.toSeq.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
            if (e.ts_ms < st.maxSeen) {
              st = st.copy(late = st.late + 1)
            } else {
              st = (e.event_type match {
                case `t1` if st.s1.isEmpty => st.copy(s1 = Some(e.ts_ms))
                case `t2` if st.s2.isEmpty && st.s1.exists(e.ts_ms > _) =>
                  st.copy(s2 = Some(e.ts_ms))
                case `t3` if st.s3.isEmpty && st.s2.exists(e.ts_ms > _) =>
                  st.copy(s3 = Some(e.ts_ms))
                case _ => st
              }).copy(maxSeen = e.ts_ms)
            }
          }
          state.update(st)
          FunnelProgressLate(uid, st.stage, st.s1, st.s2, st.s3, st.late)
      }
  }

  case class FunnelDone(user_id: Long, outcome: String, stage: Int,
                        s1: Option[Long], s2: Option[Long], s3: Option[Long])

  /** The state-BOUNDED streaming funnel — the variant a 100 TB stream
    * actually runs, because [[funnelStateful]]'s store grows with every
    * user ever seen: a user's state is EVICTED the moment it can no
    * longer change an outcome. Completion evicts immediately (stage 3
    * emits "converted" and removes — a later journey starts a fresh
    * funnel); inactivity evicts by EVENT time ("expired" after `idleMs`
    * with no events, enforced with an EventTimeTimeout against the
    * stream's watermark — the watermark clock, not the wall clock, so
    * expiry is deterministic and replayable, and the spec drives it by
    * injecting event times). Store size is therefore bounded by the
    * ACTIVE user population, not the historical one.
    *
    * Emits one row per completed or expired funnel (append-mode
    * semantics); in-flight funnels stay silent until resolved. */
  def funnelStatefulExpiring(evs: Dataset[FunnelEv],
                             idleMs: Long): Dataset[FunnelDone] = {
    val spark = evs.sparkSession
    import spark.implicits._
    val Seq(t1, t2, t3) = FunnelStages
    val withTime = evs
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "0 milliseconds")
    withTime.groupByKey(r => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState[FunnelState, FunnelDone](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(FunnelDone(uid, "expired", st.stage, st.s1, st.s2, st.s3))
          } else {
            var st = state.getOption.getOrElse(FunnelState(None, None, None))
            var maxSeen = Long.MinValue
            val done = scala.collection.mutable.ArrayBuffer.empty[FunnelDone]
            // completion is checked PER EVENT, not per batch: a journey
            // that completes mid-batch emits and resets immediately, so
            // trailing events open the next funnel — output must not
            // depend on where the micro-batch boundary happens to fall
            it.toSeq.sortBy(r => (r.getAs[Long]("ts_ms"),
              r.getAs[Long]("event_id"))).foreach { r =>
              val ts = r.getAs[Long]("ts_ms")
              maxSeen = math.max(maxSeen, ts)
              st = r.getAs[String]("event_type") match {
                case `t1` if st.s1.isEmpty => st.copy(s1 = Some(ts))
                case `t2` if st.s2.isEmpty && st.s1.exists(ts > _) =>
                  st.copy(s2 = Some(ts))
                case `t3` if st.s3.isEmpty && st.s2.exists(ts > _) =>
                  st.copy(s3 = Some(ts))
                case _ => st
              }
              if (st.stage == 3) {
                done += FunnelDone(uid, "converted", 3, st.s1, st.s2, st.s3)
                st = FunnelState(None, None, None) // completion eviction
              }
            }
            if (st == FunnelState(None, None, None)) {
              // nothing in flight: either the batch ended exactly on a
              // completion, or the user never opened the funnel (e.g.
              // click-only). Either way no store entry and no timeout —
              // the store is bounded by active FUNNELS, not active
              // users, and non-participants never emit an 'expired' row.
              if (state.exists) state.remove()
            } else {
              state.update(st)
              // the timeout must sit strictly past the current watermark
              // or the state store rejects it (a late-arriving group call
              // can see maxSeen + idleMs already expired)
              state.setTimeoutTimestamp(
                math.max(maxSeen + idleMs, state.getCurrentWatermarkMs() + 1))
            }
            done.iterator
          }
      }
  }

  case class LabelPending(clicks: List[(Long, Long)], purchases: List[Long])
  case class LabelOut(event_id: Long, user_id: Long, ts_ms: Long,
                      label: Boolean, ms_to_purchase: Option[Long])

  /** Streaming form of [[labelHorizon]]: clicks are labeled ONLINE, each
    * finalized exactly when the stream's watermark passes its horizon —
    * the earliest moment the label is DEFINITIVE (every purchase that
    * could flip it has arrived, by the watermark contract). Emitting on
    * first qualifying purchase would be earlier but wrong: an
    * out-of-order purchase still inside the watermark could shrink
    * `ms_to_purchase`.
    *
    * State per user is BOUNDED by the horizon: pending clicks leave at
    * `wm > t + horizon` (their emission point) and purchases are evicted
    * once `p + horizon < wm` — each callback finalizes BEFORE evicting,
    * and an induction on the watermark shows an evicted purchase can
    * never match a still-pending click (pending ⇒ `t ≥ wm_prev − H`,
    * evicted ⇒ `p < wm_prev − H ≤ t`, and a match needs `p > t`). So the
    * store holds ~rate × (horizon + watermark delay) entries per user,
    * independent of stream age. The timeout rides the watermark clock,
    * so expiry is deterministic and replayable; StreamingSpec proves the
    * flushed stream equals the batch twin row-for-row.
    *
    * `watermarkDelay` is the out-of-order tolerance: an event arriving
    * more than this far behind the max event time seen is DROPPED by the
    * watermark and can neither be labeled nor flip a label. The default
    * "0 milliseconds" therefore assumes a time-ordered feed ACROSS
    * micro-batches (within a batch, order is irrelevant — the callback
    * sees the whole batch before finalizing); feeds that can straggle
    * across batch boundaries must pass their real delay bound, which the
    * eviction math above already accommodates (state grows by
    * rate × delay). The batch-equivalence specs use 0 because their
    * feeds are ordered; StreamingSpec also pins the nonzero-delay path
    * with a cross-batch straggler. */
  def labelHorizonStream(evs: Dataset[FunnelEv],
                         horizonMs: Long = LabelHorizonMs,
                         watermarkDelay: String = "0 milliseconds"): Dataset[LabelOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    val withTime = evs
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", watermarkDelay)

    def finalizeDue(uid: Long, st: LabelPending, wm: Long): (LabelPending, List[LabelOut]) = {
      val (due, pending) = st.clicks.partition { case (_, t) => t + horizonMs < wm }
      val out = due.sortBy(_._1).map { case (eid, t) =>
        val hit = st.purchases.filter(p => p > t && p <= t + horizonMs)
        if (hit.isEmpty) LabelOut(eid, uid, t, label = false, None)
        else LabelOut(eid, uid, t, label = true, Some(hit.min - t))
      }
      // finalize-THEN-evict: every purchase a due click needed is still
      // present in this callback's state snapshot
      (LabelPending(pending, st.purchases.filter(p => p + horizonMs >= wm)), out)
    }

    withTime.groupByKey(r => r.getAs[Long]("user_id"))
      .flatMapGroupsWithState[LabelPending, LabelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state) =>
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(LabelPending(Nil, Nil))
          it.toSeq.sortBy(r => (r.getAs[Long]("ts_ms"),
            r.getAs[Long]("event_id"))).foreach { r =>
            val ts = r.getAs[Long]("ts_ms")
            r.getAs[String]("event_type") match {
              case "click"    => st = st.copy(clicks = (r.getAs[Long]("event_id"), ts) :: st.clicks)
              case "purchase" => st = st.copy(purchases = ts :: st.purchases)
              case _          => () // other types carry watermark only
            }
          }
          val (kept, out) = finalizeDue(uid, st, wm)
          if (kept.clicks.isEmpty && kept.purchases.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(kept)
            val nextDeadline = (kept.clicks.map(_._2) ++ kept.purchases)
              .map(_ + horizonMs).min
            state.setTimeoutTimestamp(math.max(nextDeadline + 1, wm + 1))
          }
          out.iterator
      }
  }

  val eventTransitionsSql: String =
    Tables.eventsOracleCte +
      """, seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type, 1) OVER (PARTITION BY user_id
        |                                  ORDER BY ts_ms, event_id) AS prev_type
        |  FROM ev
        |), pairs AS (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT prev_type, event_type, n,
        |       n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM pairs
        |ORDER BY prev_type, event_type""".stripMargin
}
