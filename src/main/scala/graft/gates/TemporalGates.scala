package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries._

/** Temporal gates: as-of and range joins, resampling, SCD2 intervals,
  * rolling and EWMA statistics (`ops.Temporal`), funnels and cohorts
  * (`ops.Funnel`, `ops.Cohort`) and anomaly flags (`ops.Anomaly`). */
object TemporalGates {
  private val TolUs = 600000000L // 10 minutes
  private val HourUs = 3600000000L

  private def clicksUs(s: SparkSession, d: String): DataFrame = {
    val ev = graft.core.Tables.events(s, d)
    ev.filter(col("event_type") === "click")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_id"))
  }

  private def errorsUs(s: SparkSession, d: String): DataFrame = {
    val ev = graft.core.Tables.events(s, d)
    ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("rts"))
      .agg(max("value").as("err_value"))
  }

  private val asOfJoinSql: String =
    """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS rts, max(value) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |)
        |SELECT l.user_id, l.ts_us, l.event_id, l.value,
        |  CASE WHEN r.rts >= l.ts_us - 3600000000 THEN r.rts END AS r_rts,
        |  CASE WHEN r.rts >= l.ts_us - 3600000000 THEN r.err_value
        |    END AS r_err_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.rts
        |""".stripMargin

  /** Events collapsed to one observation per (user, µs timestamp): the
    * j16_resample_ffill input and the `resample` command's default. */
  private[graft] def userObservations(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .agg(max("event_id").as("event_id"), max("value").as("value"))

  val gates: Seq[Gate] = Seq(
    // --- Point-in-time (as-of) join ------------------------------------------
    // "Last error state as of each click, per user, within an hour" — the
    // classic feature-enrichment shape. Value-exact vs DuckDB's native
    // ASOF LEFT JOIN. Timestamps compare as unix-micros LONGS on both
    // sides (the parquet ns → µs truncation is integer-identical in the
    // two engines; comparing raw timestamps would re-admit the ns-vs-µs
    // boundary ambiguity). The right side pre-aggregates to one row per
    // (user, µs) because the tie WINNER is engine-defined even though
    // both engines pick from the same tied set.
    Gate("j10_asof_join", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
          col("value"))
      val r = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), tsUs.as("rts"))
        .agg(max("value").as("err_value"))
      graft.ops.Temporal.asOfJoin(l, r, Seq("user_id"),
        leftTs = "ts_us", rightTs = "rts",
        tolerance = Some(3600000000L))
    },
      asOfJoinSql),

    // --- Interval-overlap (range) join ---------------------------------------
    // 30-minute click windows × 30-minute error windows per user; a pair
    // appears iff the windows overlap (⇔ |Δts| ≤ 30 min). The operator
    // buckets onto the window-width grid and equi-joins — the oracle is
    // the raw inequality join, which DuckDB can afford at test scale and
    // Spark could not at cluster scale (BroadcastNestedLoop).
    Gate("j11_range_join", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val win = 1800000000L
      def side(kind: String) = ev.filter(col("event_type") === kind)
        .select(col("user_id"), col("event_id"), tsUs.as("s_us"),
          (tsUs + win).as("e_us"))
      graft.ops.Temporal.rangeJoin(side("click"), side("error"),
        Seq("user_id"), "s_us", "e_us", "s_us", "e_us",
        bucketWidth = win)
    },
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + 1800000000 AS e_us
        |  FROM events WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, event_id AS r_event_id, epoch_us(ts) AS r_s_us,
        |    epoch_us(ts) + 1800000000 AS r_e_us
        |  FROM events WHERE event_type = 'error'
        |)
        |SELECT l.user_id, l.event_id, l.s_us, l.e_us,
        |  r.r_event_id, r.r_s_us, r.r_e_us
        |FROM l JOIN r ON l.user_id = r.user_id
        |  AND l.s_us <= r.r_e_us AND r.r_s_us <= l.e_us
        |""".stripMargin),

    // --- As-of join: forward direction + tolerance-NULL resolution ----------
    // "Next error state at or after each click, if within 10 minutes" —
    // the forward twin of j10's backward hour-lookback. The right side
    // pre-aggregates to one row per (user, µs) so the tie winner is
    // engine-independent (same discipline as j10).
    Gate("j10_asof_tolerance", (s, d) => {
      graft.ops.Temporal.asOfJoin(clicksUs(s, d), errorsUs(s, d),
        Seq("user_id"),
        leftTs = "ts_us", rightTs = "rts",
        tolerance = Some(600000000L), forward = true)
    },
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS rts, max(value) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |)
        |SELECT l.user_id, l.ts_us, l.event_id,
        |  CASE WHEN r.rts <= l.ts_us + 600000000 THEN r.rts END AS r_rts,
        |  CASE WHEN r.rts <= l.ts_us + 600000000 THEN r.err_value
        |    END AS r_err_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us <= r.rts
        |""".stripMargin),

    // --- As-of join: backward direction WITH tolerance ----------------------
    // Completes the mode matrix (j10 = backward/no-tolerance,
    // j10_asof_tolerance = forward/tolerance): last error state at or
    // before each click, nulled when farther than 10 minutes back.
    Gate("j10_asof_backtol", (s, d) => {
      graft.ops.Temporal.asOfJoin(clicksUs(s, d), errorsUs(s, d),
        Seq("user_id"),
        leftTs = "ts_us", rightTs = "rts",
        tolerance = Some(600000000L), forward = false)
    },
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS rts, max(value) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |)
        |SELECT l.user_id, l.ts_us, l.event_id,
        |  CASE WHEN r.rts >= l.ts_us - 600000000 THEN r.rts END AS r_rts,
        |  CASE WHEN r.rts >= l.ts_us - 600000000 THEN r.err_value
        |    END AS r_err_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.rts
        |""".stripMargin),

    // --- Ordered event-sequence (funnel) conversion -------------------------
    // view → click → purchase with strictly-increasing timestamps; the
    // operator folds each user's time-ordered stage events through the
    // chain in ONE shuffle; the oracle chains strictly-after min-ts CTEs.
    Gate("a22_funnel", (s, d) =>
      graft.ops.Funnel.reach(graft.core.Tables.events(s, d),
        Seq("view", "click", "purchase")),
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
        |)
        |SELECT 1 AS stage, 'view' AS stage_name,
        |  (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |""".stripMargin),

    // --- Funnel conversion-lag statistics -----------------------------------
    // Per transition (view→click, click→purchase): how many users
    // converted and how long it took — exact integer measures only
    // (count, µs sum/min/max), one pass over the per-user reach frame.
    Gate("a27_conversion_lag", (s, d) =>
      graft.ops.Funnel.transitionLags(graft.core.Tables.events(s, d),
        Seq("view", "click", "purchase")),
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
        |)
        |SELECT 'view->click' AS transition, count(*) AS n,
        |  CAST(sum(epoch_us(t2) - epoch_us(t1)) AS BIGINT) AS sum_lag_us,
        |  min(epoch_us(t2) - epoch_us(t1)) AS min_lag_us,
        |  max(epoch_us(t2) - epoch_us(t1)) AS max_lag_us
        |FROM s2 JOIN s1 USING (user_id)
        |UNION ALL
        |SELECT 'click->purchase', count(*),
        |  CAST(sum(epoch_us(t3) - epoch_us(t2)) AS BIGINT),
        |  min(epoch_us(t3) - epoch_us(t2)),
        |  max(epoch_us(t3) - epoch_us(t2))
        |FROM s3 JOIN s2 USING (user_id)
        |""".stripMargin),

    // --- As-of join: nearest direction + tolerance --------------------------
    // Nearest error state within ±10 minutes of each click; equidistant
    // candidates resolve backward (the causally safe default). Right side
    // pre-aggregated per (user, µs) so the tie winner is engine-
    // independent — the j10 discipline.
    Gate("j14_asof_nearest", (s, d) =>
      graft.ops.Temporal.asOfJoinNearest(
        clicksUs(s, d), errorsUs(s, d), Seq("user_id"),
        leftTs = "ts_us", rightTs = "rts", tolerance = Some(TolUs)),
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS rts, max(value) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |), b AS (
        |  SELECT l.event_id, r.rts, r.err_value
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND l.ts_us >= r.rts
        |), f AS (
        |  SELECT l.event_id, r.rts, r.err_value
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND l.ts_us <= r.rts
        |)
        |SELECT l.user_id, l.ts_us, l.event_id,
        |  CASE WHEN bok AND (NOT fok OR l.ts_us - b.rts <= f.rts - l.ts_us)
        |       THEN b.rts WHEN fok THEN f.rts END AS r_rts,
        |  CASE WHEN bok AND (NOT fok OR l.ts_us - b.rts <= f.rts - l.ts_us)
        |       THEN b.err_value WHEN fok THEN f.err_value
        |    END AS r_err_value
        |FROM l
        |JOIN b ON b.event_id = l.event_id
        |JOIN f ON f.event_id = l.event_id
        |CROSS JOIN LATERAL (SELECT
        |  b.rts IS NOT NULL AND b.rts >= l.ts_us - 600000000 AS bok,
        |  f.rts IS NOT NULL AND f.rts <= l.ts_us + 600000000 AS fok) g
        |""".stripMargin),

    // --- As-of join: strict (exclude-exact-match) mode ----------------------
    // pandas allow_exact_matches=False: the last error STRICTLY before
    // each click — an equal-µs error is not admissible. Completes the
    // j10 mode matrix (backward/forward × tolerance × strict).
    Gate("j10_asof_strict", (s, d) =>
      graft.ops.Temporal.asOfJoin(
        clicksUs(s, d), errorsUs(s, d), Seq("user_id"),
        leftTs = "ts_us", rightTs = "rts", strict = true),
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS rts, max(value) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |)
        |SELECT l.user_id, l.ts_us, l.event_id, r.rts AS r_rts,
        |  r.err_value AS r_err_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us > r.rts
        |""".stripMargin),

    // --- SCD2 validity intervals --------------------------------------------
    // Each user's event-type state history compressed into half-open
    // [valid_from, valid_to) intervals; same-µs conflicts pre-aggregated
    // to min(event_type) so interval semantics are well-defined in both
    // engines.
    Gate("w_scd2_intervals", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
        .groupBy(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .agg(min("event_type").as("state"))
      graft.ops.Temporal.scd2(ev, Seq("user_id"), "ts_us", "state")
    },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, min(event_type) AS state
        |  FROM events GROUP BY 1, 2
        |), x AS (
        |  SELECT user_id, ts_us, state,
        |    lag(state) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        |), c AS (
        |  SELECT user_id, ts_us, state FROM x
        |  WHERE rn = 1 OR state IS DISTINCT FROM prev
        |)
        |SELECT user_id, state, ts_us AS valid_from,
        |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |    AS valid_to
        |FROM c
        |""".stripMargin),

    // --- SCD2 + as-of composition: state valid at event time ----------------
    // The feature-store enrichment the two operators exist for: build the
    // per-user state history (scd2), then each purchase picks the
    // interval containing its instant — which for tiling intervals is
    // exactly the backward as-of on valid_from, so the enrich costs ONE
    // window pass, not an interval join. Oracle = the raw half-open
    // interval-containment join.
    Gate("j15_scd2_enrich", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
        .groupBy(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .agg(min("event_type").as("state"))
      val dim = graft.ops.Temporal.scd2(ev, Seq("user_id"), "ts_us", "state")
        .select(col("user_id"), col("valid_from"), col("state"))
      val purchases = graft.core.Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      graft.ops.Temporal.asOfJoin(purchases, dim, Seq("user_id"),
        leftTs = "ts_us", rightTs = "valid_from")
    },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, min(event_type) AS state
        |  FROM events GROUP BY 1, 2
        |), x AS (
        |  SELECT user_id, ts_us, state,
        |    lag(state) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        |), c AS (
        |  SELECT user_id, ts_us, state FROM x
        |  WHERE rn = 1 OR state IS DISTINCT FROM prev
        |), iv AS (
        |  SELECT user_id, state, ts_us AS valid_from,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |      AS valid_to
        |  FROM c
        |), p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  iv.valid_from AS r_valid_from, iv.state AS r_state
        |FROM p LEFT JOIN iv ON p.user_id = iv.user_id
        |  AND iv.valid_from <= p.ts_us
        |  AND (iv.valid_to IS NULL OR p.ts_us < iv.valid_to)
        |""".stripMargin),

    // --- Trailing time-range rolling aggregates -----------------------------
    // Per user: click count + spend (integer cents) over the trailing
    // hour, evaluated at every click — RANGE frame, both ends inclusive,
    // equal-µs peers share the frame in both engines.
    Gate("w_rolling_sum", (s, d) => {
      val clicks = graft.core.Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      graft.ops.Temporal.rollingSum(clicks, Seq("user_id"), "ts_us",
        "cents", HourUs)
    },
      """SELECT user_id, epoch_us(ts) AS ts_us,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  CAST(count(*) OVER w AS BIGINT) AS roll_n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS roll_sum
        |FROM events WHERE event_type = 'click'
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |""".stripMargin),

    // --- Cohort retention triangle ------------------------------------------
    // Users cohorted by first-activity ISO week, counted distinct in
    // every week they return — ONE shuffle on the user key (cohort min +
    // activity-week set in the same pass), the calendar bounds per-user
    // state.
    Gate("a23_retention", (s, d) =>
      graft.ops.Cohort.retention(graft.core.Tables.events(s, d)),
      """WITH a AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS p
        |  FROM events GROUP BY 1, 2
        |), c AS (
        |  SELECT user_id, min(p) AS cohort FROM a GROUP BY 1
        |)
        |SELECT c.cohort, (a.p - c.cohort) // 7 AS period_no,
        |  count(*) AS active_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2
        |""".stripMargin),

    // --- Time-series resample + forward-fill --------------------------------
    // Each user's event stream projected onto the hourly grid, every
    // grid instant carrying the latest observation at or before it —
    // the feature-store "state as of every hour" export. Observations
    // pre-aggregated per (user, µs) (max event_id / max value) so the
    // fill winner is engine-independent; oracle = DuckDB
    // generate_series grid + native backward-inclusive ASOF.
    Gate("j16_resample_ffill", (s, d) => {
      val obs = userObservations(graft.core.Tables.events(s, d))
      graft.ops.Temporal.resampleFfill(obs, Seq("user_id"), "ts_us",
        stepUs = HourUs)
    },
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    max(event_id) AS event_id, max(value) AS value
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT user_id,
        |    ((min(ts_us) + 3599999999) // 3600000000) * 3600000000 AS g0,
        |    max(ts_us) AS mx
        |  FROM o GROUP BY 1
        |), g AS (
        |  SELECT user_id, unnest(generate_series(g0, mx, 3600000000))
        |    AS grid_ts
        |  FROM b WHERE g0 <= mx
        |)
        |SELECT g.user_id, g.grid_ts, o.ts_us AS r_ts_us,
        |  o.event_id AS r_event_id, o.value AS r_value
        |FROM g ASOF LEFT JOIN o
        |  ON g.user_id = o.user_id AND g.grid_ts >= o.ts_us
        |""".stripMargin),

    // --- Time-weighted average (TWAP) buckets -------------------------------
    // Per user, the time-weighted mass of the piecewise-constant click
    // value per hour bucket — exact integers only (cents × µs), the
    // rollingSum quantization contract, so the gate is value-exact.
    // Same-µs conflicts pre-aggregated to max cents (j10 discipline).
    Gate("w_twap", (s, d) => {
      val obs = graft.core.Tables.events(s, d)
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .agg(max(round(col("value") * 100, 0).cast("long")).as("cents"))
      graft.ops.Temporal.twapBuckets(obs, Seq("user_id"), "ts_us",
        "cents", stepUs = HourUs)
    },
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    max(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), seg AS (
        |  SELECT user_id, ts_us, cents,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS nxt
        |  FROM o
        |), sp AS (
        |  SELECT user_id, ts_us, cents, nxt,
        |    unnest(generate_series(ts_us // 3600000000,
        |      (nxt - 1) // 3600000000)) AS b
        |  FROM seg WHERE nxt IS NOT NULL AND nxt > ts_us
        |)
        |SELECT user_id, b * 3600000000 AS bucket_ts,
        |  CAST(sum(cents * (least(nxt, (b + 1) * 3600000000)
        |    - greatest(ts_us, b * 3600000000))) AS BIGINT) AS weighted_us,
        |  CAST(sum(least(nxt, (b + 1) * 3600000000)
        |    - greatest(ts_us, b * 3600000000)) AS BIGINT) AS covered_us
        |FROM sp GROUP BY 1, 2
        |""".stripMargin),

    // --- Broadcast as-of join -----------------------------------------------
    // The SAME query as j10_asof_join (latest same-user error within the
    // trailing hour of each click) through the dimension-sized-right
    // specialization: the click side never shuffles — states compact to
    // one sorted array per user, broadcast, and each click resolves
    // in-row. Oracle reused verbatim from j10 (identical semantics is
    // the whole point); the never-shuffles claim is plan-pinned.
    Gate("j17_asof_broadcast", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
          col("value"))
      val r = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), tsUs.as("rts"))
        .agg(max("value").as("err_value"))
      graft.ops.Temporal.asOfJoinBroadcast(l, r, Seq("user_id"),
        leftTs = "ts_us", rightTs = "rts",
        tolerance = Some(3600000000L))
    },
      asOfJoinSql),

    // --- Resample + linear interpolation --------------------------------------
    // Each user's event value (quantized to cents, the twap contract)
    // projected onto the hourly grid with straight-line interpolation
    // between bracketing observations — the continuous-signal sibling
    // of j16's forward fill. ONE window shuffle, no join; interp is an
    // exact-integer chain + one IEEE division, engine-reproducible.
    Gate("j21_resample_interp", (s, d) => {
      val obs = graft.core.Tables.events(s, d)
        .groupBy(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .agg(max(round(col("value") * 100, 0).cast("long")).as("cents"))
      graft.ops.Temporal.resampleInterp(obs, Seq("user_id"), "ts_us",
        "cents", stepUs = HourUs)
    },
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    max(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2
        |), seg AS (
        |  SELECT user_id, ts_us, v,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS nxt,
        |    lead(v) OVER (PARTITION BY user_id ORDER BY ts_us) AS nv
        |  FROM o
        |), st AS (
        |  SELECT user_id, ts_us, v, nxt, nv,
        |    ((ts_us + 3599999999) // 3600000000) AS i0,
        |    ((nxt - 1) // 3600000000) AS i1
        |  FROM seg WHERE nxt IS NOT NULL AND nxt > ts_us
        |), g AS (
        |  SELECT user_id, ts_us, v, nxt, nv,
        |    unnest(generate_series(i0, i1)) * 3600000000 AS grid_ts
        |  FROM st WHERE i0 <= i1
        |)
        |SELECT user_id, grid_ts,
        |  CAST(v AS DOUBLE) + CAST((nv - v) * (grid_ts - ts_us) AS DOUBLE)
        |    / CAST(nxt - ts_us AS DOUBLE) AS interp
        |FROM g
        |UNION ALL
        |SELECT user_id, ts_us AS grid_ts, CAST(v AS DOUBLE) AS interp
        |FROM seg WHERE nxt IS NULL AND ts_us % 3600000000 = 0
        |""".stripMargin),

    // --- Hour-of-day seasonal baseline ------------------------------------------------
    // The diurnal profile per event type: exact BIGINT (n, Σq, Σq²)
    // per (type, hour) — one map-side-combined aggregation onto the
    // 5×24 domain; mean/σ derive downstream.
    Gate("a44_seasonal", (s, d) =>
      graft.ops.Temporal.seasonalProfile(
        graft.core.Tables.events(s, d)),
      """SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS INT)
        |    AS hod,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(q) AS BIGINT) AS s,
        |  CAST(sum(q * q) AS BIGINT) AS ss
        |FROM (SELECT event_type, ts,
        |  CAST(floor(value * 1000) AS BIGINT) AS q FROM events)
        |GROUP BY 1, 2
        |""".stripMargin),

    // --- Markov transition counts ----------------------------------------------
    // Per-user next-event transition matrix over the full event log —
    // the behavior-modeling aggregate. (ts, event_id) ordering makes
    // same-µs pairs deterministic in both engines.
    Gate("a39_transitions", (s, d) =>
      graft.ops.Funnel.transitionCounts(
        graft.core.Tables.events(s, d)),
      """WITH seq AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS from_total
        |FROM seq WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |""".stripMargin),

    // --- Rolling z-score outliers (batch) --------------------------------------
    // Every event judged against its user's 20 preceding values: the
    // |x−μ| > 3σ test multiplied through by cnt² runs entirely in
    // BIGINT (floor-quantized ×1000 values) — bit-exact vs the window
    // SQL, no float accumulation anywhere.
    Gate("w_anomaly_zscore", (s, d) =>
      graft.ops.Anomaly.flagOutliers(graft.core.Tables.events(s, d))
        .select(col("user_id"), col("event_id"), col("q"), col("cnt"),
          col("s"), col("ss"), col("is_outlier")),
      anomalySql("")),

    // --- Seasonal (hour-of-day) anomaly flags — batch face ---------------------------
    // Every event scored against its (type, hour) baseline: exact
    // decimal(38,0) sigma test (DuckDB runs the identical algebra in
    // HUGEINT), profile from the same corpus, ONE broadcast join.
    Gate("w_seasonal_anomaly", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      graft.ops.Anomaly.flagSeasonal(ev,
          graft.ops.Temporal.seasonalProfile(ev))
        .select("event_type", "event_id", "hod", "q", "n", "s", "ss",
          "is_outlier")
    },
      seasonalSql("")),

    // --- Missing-data gap intervals -----------------------------------------------------
    // The sessionizer's dual over the same feed: per-user silences
    // longer than 2 hours, bounds as formatted timestamps (the
    // w_sessionize comparator discipline), spacing in exact
    // unix_timestamp seconds vs floor(epoch) — the established
    // engine-exact pair.
    Gate("j22_gaps", (s, d) =>
      graft.ops.Temporal.gaps(graft.core.Tables.events(s, d),
          minGapSeconds = 7200L)
        .select(col("user_id"),
          date_format(col("gap_start"), "yyyy-MM-dd HH:mm:ss")
            .as("gap_start"),
          date_format(col("gap_end"), "yyyy-MM-dd HH:mm:ss")
            .as("gap_end"),
          col("gap_s")),
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), l AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM e
        |)
        |SELECT user_id,
        |  strftime(prev, '%Y-%m-%d %H:%M:%S') AS gap_start,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
        |  CAST(floor(epoch(ts)) AS BIGINT) -
        |    CAST(floor(epoch(prev)) AS BIGINT) AS gap_s
        |FROM l
        |WHERE prev IS NOT NULL
        |  AND CAST(floor(epoch(ts)) AS BIGINT) -
        |    CAST(floor(epoch(prev)) AS BIGINT) > 7200
        |""".stripMargin),

    // --- OHLC time-bucket downsampling -------------------------------------------
    // Hourly per-type bars over the event feed: open/close/high/low are
    // SELECTIONS (first/last by (ts, event_id), extremes) so every
    // double is engine-exact; volume sums the BIGINT quantization. One
    // map-side-combinable aggregation — no window, no sort.
    Gate("j23_downsample", (s, d) =>
      graft.ops.Temporal.downsample(graft.core.Tables.events(s, d),
        bucketSeconds = 3600L),
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS bucket_start,
        |    value, CAST(floor(value * 1000) AS BIGINT) AS q,
        |    row_number() OVER (
        |      PARTITION BY event_type,
        |        CAST(floor(epoch(ts)) AS BIGINT)
        |          - CAST(floor(epoch(ts)) AS BIGINT) % 3600
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (
        |      PARTITION BY event_type,
        |        CAST(floor(epoch(ts)) AS BIGINT)
        |          - CAST(floor(epoch(ts)) AS BIGINT) % 3600
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT event_type, bucket_start, CAST(count(*) AS BIGINT) AS n,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  CAST(sum(q) AS BIGINT) AS sum_q
        |FROM b GROUP BY 1, 2
        |""".stripMargin),

    // --- Time-decay (EWMA) rolling statistics ----------------------------------
    // Per-user exponentially weighted mean/variance over (ts, event_id)
    // order at alpha = 1/4 (binary-exact complement 3/4, so both
    // engines' (1 - alpha) is the same double). Bit-exact vs the
    // oracle's scalar folds of the same recurrence.
    Gate("w_ewma", (s, d) =>
      graft.ops.Temporal.ewma(
        graft.core.Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("value")),
        alpha = 0.25),
      ewmaSql(filter = "", withTs = true)))
}
