package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Relational
import graft.streaming.EventStream

/** Event-log queries: the log-mining scalar functions, time windows,
  * sessions, stream-shaped operators gated in batch, funnels and cohorts.
  */
object EventQueries {

  lazy val all: Seq[QueryDef] = Seq(
    // ---- Sorts / limits / temporal prefix split (SURVEY §2.6, §2.9 D3) -
    QueryDef("q07_temporal_prefix", (s, dir) => {
      val (train, _) = Relational.temporalPrefixSplit(
        Tables.events(s, dir), "ts", "event_id", 100)
      train.select("event_id", "user_id", "event_type").orderBy("event_id")
    }, oracle = Some("""SELECT event_id, user_id, event_type FROM (
           SELECT * FROM events ORDER BY ts, event_id LIMIT 100)
         ORDER BY event_id""")),

    // ---- Scalar functions (SURVEY §2.8) --------------------------------
    // regexp_extract (log_mining_analysis.py:24-26).
    QueryDef("q13_regex_first_word", (s, dir) =>
      Tables.documents(s, dir)
        .select(regexp_extract(col("text"), "^([a-z]+)", 1).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")),
      oracle = Some(
        """SELECT regexp_extract(text, '^([a-z]+)', 1) AS word, COUNT(*) AS cnt
         FROM documents GROUP BY 1 ORDER BY cnt DESC, word""")),

    // when/otherwise + ln (Claims_Prediction.py:35-38).
    QueryDef("q14_case_when_log", (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("high_disc",
          when(col("l_discount") > 0.05, 1.0).otherwise(0.0))
        .withColumn("pp_qty",
          when(col("l_quantity") === 0, 0.5).otherwise(col("l_quantity")))
        .withColumn("log_qty", round(log(col("pp_qty")), 6))
        .groupBy("high_disc")
        .agg(count(lit(1)).as("cnt"),
             min(col("log_qty")).as("min_log_qty"),
             max(col("log_qty")).as("max_log_qty"),
             Relational.decSum(col("pp_qty")).as("sum_pp_qty"))
        .orderBy("high_disc"),
      oracle = Some("""SELECT high_disc, COUNT(*) AS cnt,
             MIN(log_qty) AS min_log_qty, MAX(log_qty) AS max_log_qty,
             CAST(SUM(CAST(pp_qty AS DECIMAL(28,4))) AS DOUBLE) AS sum_pp_qty
         FROM (
           SELECT CASE WHEN l_discount > 0.05 THEN CAST(1 AS DOUBLE)
                       ELSE CAST(0 AS DOUBLE) END AS high_disc,
                  CASE WHEN l_quantity = 0 THEN 0.5 ELSE l_quantity END AS pp_qty,
                  ROUND(LN(CASE WHEN l_quantity = 0 THEN 0.5 ELSE l_quantity END), 6) AS log_qty
           FROM lineitem)
         GROUP BY high_disc ORDER BY high_disc""")),

    // split + element_at(-1) (log_mining_analysis.py:27-28, modernized F3).
    QueryDef("q15_last_token", (s, dir) =>
      Tables.part(s, dir)
        .select(element_at(split(col("p_name"), " "), -1).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")),
      oracle = Some("""SELECT list_extract(string_split(p_name, ' '),
                             len(string_split(p_name, ' '))) AS tok,
             COUNT(*) AS cnt
         FROM part GROUP BY tok ORDER BY cnt DESC, tok""")),

    // day×hour heatmap aggregate (log_mining_analysis.py:113-118), on real
    // timestamps instead of regex-parsed strings.
    QueryDef("q16_day_hour_heatmap", (s, dir) =>
      Tables.events(s, dir)
        .select(dayofmonth(col("ts")).cast("long").as("d"),
                hour(col("ts")).cast("long").as("h"))
        .groupBy("d", "h").agg(count(lit(1)).as("cnt"))
        .orderBy("d", "h"),
      oracle = Some("""SELECT date_part('day', ts) AS d, date_part('hour', ts) AS h,
             COUNT(*) AS cnt
         FROM events GROUP BY d, h ORDER BY d, h""")),

    // Tumbling event-time window — the streaming-ready aggregate (batch
    // form; same plan works under readStream+watermark, see streaming pkg).
    QueryDef("q18_hourly_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
             Relational.decSum(col("value")).as("v_sum"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
                col("event_type"), col("cnt"), col("v_sum"))
        .orderBy("win_start", "event_type"),
      oracle = Some(
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type, COUNT(*) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS v_sum
         FROM events GROUP BY win_start, event_type
         ORDER BY win_start, event_type""")),

    // Sliding event-time windows (1 h width, 15 min slide) — each event
    // lands in 4 windows; the oracle reproduces Spark's epoch-aligned
    // window-start arithmetic exactly in integer microseconds.
    QueryDef("q48_sliding_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("cnt"))
        .orderBy("win_start", "event_type"),
      oracle = Some("""SELECT strftime(make_timestamp(
               (epoch_us(ts) // 900000000 - i) * 900000000),
               '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type, COUNT(*) AS cnt
         FROM events, range(0, 4) r(i)
         GROUP BY win_start, event_type
         ORDER BY win_start, event_type""")),

    // Gap-based sessionization in batch: new session after >30 min of
    // per-user silence; pure window functions, exact integer time math.
    QueryDef("q49_sessionize", (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("tus", unix_micros(col("ts")))
        .withColumn("new_sess",
          when(col("tus") - lag("tus", 1).over(byUser) > 1800000000L, 1L)
            .otherwise(lit(0L)))
        .withColumn("sess",
          sum("new_sess").over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"),
          (max("tus") - min("tus")).as("duration_us"))
        .select(col("user_id"), col("sess"), col("n_events"),
          col("duration_us"))
        .orderBy("user_id", "sess")
    }, oracle = Some("""WITH t AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM events),
         s AS (
           SELECT user_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM t)
         SELECT user_id, CAST(sess AS BIGINT) AS sess,
             COUNT(*) AS n_events,
             MAX(tus) - MIN(tus) AS duration_us
         FROM s GROUP BY user_id, sess ORDER BY user_id, sess""")),

    // ---- SESSION TRANSITION MATRIX (first-order Markov) -----------------
    // Product-analytics companion to q49/q145: within each 30-min
    // session, count (event_type -> next event_type) transitions and the
    // exact ppm transition probability per source type. Scale shape: the
    // same per-user windows as q49 (group size = one user's events, no
    // corpus-wide key), then two map-side-combined aggregates over the
    // tiny (from, to) matrix; the per-from totals broadcast back. No
    // session state ever leaves its user partition.
    QueryDef("q156_session_transitions", (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.events(s, dir)
        .withColumn("tus", unix_micros(col("ts")))
        .withColumn("new_sess",
          when(col("tus") - lag("tus", 1).over(byUser) > 1800000000L, 1L)
            .otherwise(lit(0L)))
        .withColumn("sess",
          sum("new_sess").over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy("user_id", "sess")
        .orderBy("ts", "event_id")
      val tr = ev
        .withColumn("to_type", lead("event_type", 1).over(bySess))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val tot = tr.groupBy("from_type").agg(sum("n_trans").as("n_from"))
      tr.join(broadcast(tot), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n_trans"),
          expr("n_trans * 1000000 div n_from").as("p_ppm"))
        .orderBy("from_type", "to_type")
    }, oracle = Some("""WITH t AS (
           SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS tus,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM events),
         s AS (
           SELECT user_id, event_id, ts, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM t),
         tr AS (
           SELECT event_type AS from_type,
             lead(event_type, 1) OVER (PARTITION BY user_id, sess
               ORDER BY ts, event_id) AS to_type
           FROM s),
         cnt AS (
           SELECT from_type, to_type, COUNT(*) AS n_trans
           FROM tr WHERE to_type IS NOT NULL
           GROUP BY from_type, to_type),
         tot AS (
           SELECT from_type, SUM(n_trans) AS n_from
           FROM cnt GROUP BY from_type)
         SELECT c.from_type, c.to_type, c.n_trans,
           CAST(c.n_trans * 1000000 // t.n_from AS BIGINT) AS p_ppm
         FROM cnt c JOIN tot t USING (from_type)
         ORDER BY c.from_type, c.to_type""")),

    // ---- Stream-stream interval join, batch-oracled (SURVEY §2.11
    // additive): per click, how many errors the same user hit in the
    // preceding 10 minutes — EventStream.recentPairs, the SAME code
    // StreamingEtlSpec runs as a real watermarked stream. Scale shape:
    // one shuffle of each side on user_id; per-user candidate volume is
    // bounded by rate × window (the interval predicate), and in
    // streaming the same predicate bounds the join STATE ----------------
    QueryDef("q76_recent_error_counts", (s, dir) => {
      val e = Tables.events(s, dir)
      EventStream.recentPairs(
          e.filter(col("event_type") === "click"),
          e.filter(col("event_type") === "error"),
          windowMinutes = 10, joinType = "left_outer")
        .groupBy("event_id")
        .agg(count(col("r_event")).as("n_recent_errors"))
        .orderBy("event_id")
    },
      // Interval self-join replayed directly; timestamp parity holds because
      // the fixture has no sub-microsecond timestamps (the engine's ns→µs
      // truncation is lossless) and both engines compare event time exactly.
      oracle = Some("""WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         er AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
         SELECT c.event_id, COUNT(er.user_id) AS n_recent_errors
         FROM c LEFT JOIN er ON c.user_id = er.user_id
           AND er.ts <= c.ts AND er.ts > c.ts - INTERVAL 10 MINUTE
         GROUP BY c.event_id ORDER BY c.event_id""")),

    // ---- Stateful streaming operator, oracle-gated in batch ------------
    // flatMapGroupsWithState closed-session emission, run in batch mode:
    // one invoke per user sees all events, so the output is exactly every
    // session except each user's final (still-open) one — which the q49
    // sessionization CTE expresses in SQL. Gates the custom-state operator
    // itself, not just its windowed cousins.
    QueryDef("q56_closed_sessions", (s, dir) => {
      import s.implicits._
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .as[streaming.EventStream.Event]
      streaming.EventStream.sessionizeClosed(events, gapMinutes = 30).toDF()
        .select(col("user_id"), col("n_events"), col("first_ts"),
          col("last_ts"))
        .orderBy("user_id", "first_ts")
    }, oracle = Some("""WITH t AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM events),
         s AS (
           SELECT user_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM t),
         g AS (
           SELECT user_id, sess, COUNT(*) AS n_events,
             MIN(tus) // 1000 AS first_ts, MAX(tus) // 1000 AS last_ts
           FROM s GROUP BY user_id, sess),
         m AS (SELECT user_id, MAX(sess) AS last_sess FROM g GROUP BY user_id)
         SELECT g.user_id AS user_id, g.n_events, g.first_ts, g.last_ts
         FROM g JOIN m ON g.user_id = m.user_id AND g.sess != m.last_sess
         ORDER BY g.user_id, g.first_ts""")),

    // ---- North-star: temporal COMPLETENESS report (event pipeline) -----
    // Did every hour of the collection window actually arrive, per event
    // type? The gap report an ingestion team reads before trusting a
    // window of data: per type — expected hours (global span), present
    // hours, missing hours, number of gap RUNS and the longest run
    // (gaps-and-islands on the hour index). Plan: ONE map-side-combined
    // distinct over (type, hour) is the only event-stream shuffle;
    // everything after runs on the |types|×|hours| calendar frame
    // (bounded by wall-clock time, not data volume — the q74/q107
    // bounded-domain class), with the 1-row span frame broadcast.
    QueryDef("q118_hour_gaps", (s, dir) => {
      val ev = Tables.events(s, dir)
      val present = ev.select(col("event_type"),
        date_trunc("hour", col("ts")).as("h")).distinct()
      val bounds = ev.agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      val hours = bounds.select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("h"))
      val types = ev.select("event_type").distinct()
      val expectedCnt = bounds.select(
        ((unix_timestamp(col("h1")) - unix_timestamp(col("h0"))) / 3600
          + 1).cast("long").as("hours_expected"))
      val missing = types.crossJoin(hours)
        .join(present, Seq("event_type", "h"), "left_anti")
        .select(col("event_type"),
          (unix_timestamp(col("h")) / 3600).cast("long").as("hi"))
      val wrn = Window.partitionBy("event_type").orderBy("hi")
      val gapAgg = missing
        .withColumn("g", col("hi") - row_number().over(wrn))
        .groupBy("event_type", "g").agg(count(lit(1)).as("run"))
        .groupBy("event_type").agg(
          sum("run").as("hours_missing"),
          count(lit(1)).as("n_gap_runs"),
          max("run").as("max_gap_hours"))
      types
        .join(present.groupBy("event_type")
          .agg(count(lit(1)).as("hours_present")), Seq("event_type"))
        .join(gapAgg, Seq("event_type"), "left_outer")
        .crossJoin(broadcast(expectedCnt))
        .select(col("event_type"), col("hours_expected"),
          col("hours_present"),
          coalesce(col("hours_missing"), lit(0L)).as("hours_missing"),
          coalesce(col("n_gap_runs"), lit(0L)).as("n_gap_runs"),
          coalesce(col("max_gap_hours"), lit(0L)).as("max_gap_hours"),
          round(col("hours_present").cast("double") /
            col("hours_expected"), 6).as("coverage"))
        .orderBy("event_type")
    },
      // q118: the calendar replay — same global hour span, same
      // gaps-and-islands run decomposition on the hour index, exact
      // integer hour arithmetic on both sides.
      oracle = Some("""WITH b AS (
           SELECT date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1 FROM events),
         hrs AS (
           SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
           FROM b),
         ty AS (SELECT DISTINCT event_type FROM events),
         pres AS (
           SELECT DISTINCT event_type, date_trunc('hour', ts) AS h
           FROM events),
         miss AS (
           SELECT e.event_type,
             CAST(epoch(e.h) / 3600 AS BIGINT) AS hi
           FROM (SELECT event_type, h FROM ty, hrs) e
           LEFT JOIN pres p
             ON e.event_type = p.event_type AND e.h = p.h
           WHERE p.h IS NULL),
         runs AS (
           SELECT event_type,
             hi - row_number() OVER (PARTITION BY event_type
                                     ORDER BY hi) AS g
           FROM miss),
         ga AS (SELECT event_type, g, COUNT(*) AS run
                FROM runs GROUP BY event_type, g),
         m AS (SELECT event_type, SUM(run) AS hours_missing,
                 COUNT(*) AS n_gap_runs, MAX(run) AS max_gap_hours
               FROM ga GROUP BY event_type),
         pc AS (SELECT event_type, COUNT(*) AS hours_present
                FROM pres GROUP BY event_type),
         ex AS (SELECT CAST((epoch(h1) - epoch(h0)) / 3600 AS BIGINT) + 1
                  AS hours_expected FROM b)
         SELECT t.event_type,
           CAST(ex.hours_expected AS BIGINT) AS hours_expected,
           CAST(pc.hours_present AS BIGINT) AS hours_present,
           CAST(COALESCE(m.hours_missing, 0) AS BIGINT) AS hours_missing,
           CAST(COALESCE(m.n_gap_runs, 0) AS BIGINT) AS n_gap_runs,
           CAST(COALESCE(m.max_gap_hours, 0) AS BIGINT) AS max_gap_hours,
           round(CAST(pc.hours_present AS DOUBLE) / ex.hours_expected, 6)
             AS coverage
         FROM ty t
         CROSS JOIN ex
         JOIN pc ON pc.event_type = t.event_type
         LEFT JOIN m ON m.event_type = t.event_type
         ORDER BY t.event_type"""),
      // q118: the calendar cross (|types| x |hours| — bounded by
      // wall-clock, not data) is the BroadcastNestedLoopJoin; the
      // SinglePartition exchanges are the 1-row span aggregate and the
      // |types|-row gap windows (q74/q107 bounded class).
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- ORDERED FUNNEL: view -> click -> purchase ------------------------
    // The product-analytics conversion primitive: users whose first view
    // precedes a click that precedes a purchase, each step STRICTLY after
    // the previous step's first qualifying instant. Scale shape: each
    // step is one map-side-combined min() per user over a type-pruned
    // scan (the event_type filter pushes into parquet), chained through
    // user-keyed joins of user-sized frames — no windows, no per-user
    // event sorting; the three step counts are 1-row frames crossed into
    // the 3-row report. Conversion is exact integer ppm.
    QueryDef("q145_funnel", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tus"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tus").as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, Seq("user_id")).filter(col("tus") > col("t1"))
        .groupBy("user_id").agg(min("tus").as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id")).filter(col("tus") > col("t2"))
        .groupBy("user_id").agg(min("tus").as("t3"))
      val counts = t1.agg(count(lit(1)).as("u1"))
        .crossJoin(t2.agg(count(lit(1)).as("u2")))
        .crossJoin(t3.agg(count(lit(1)).as("u3")))
      counts.select(explode(array(
          struct(lit(1L).as("step"), lit("view").as("stage"),
            col("u1").as("users"), lit(1000000L).as("conv_ppm")),
          struct(lit(2L).as("step"), lit("click_after_view").as("stage"),
            col("u2").as("users"),
            when(col("u1") > 0, expr("u2 * 1000000 div u1"))
              .otherwise(lit(0L)).as("conv_ppm")),
          struct(lit(3L).as("step"), lit("purchase_after_click").as("stage"),
            col("u3").as("users"),
            when(col("u2") > 0, expr("u3 * 1000000 div u2"))
              .otherwise(lit(0L)).as("conv_ppm")))).as("r"))
        .select(col("r.step").as("step"), col("r.stage").as("stage"),
          col("r.users").as("users"), col("r.conv_ppm").as("conv_ppm"))
        .orderBy("step")
    },
      // q145 oracle: the same strictly-ordered step chain — first view,
      // first click after it, first purchase after that — with the same
      // exact integer ppm conversions.
      oracle = Some("""WITH t1 AS (
         SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
         WHERE event_type = 'view' GROUP BY 1),
       t2 AS (
         SELECT e.user_id, MIN(epoch_us(ts)) AS t2
         FROM events e JOIN t1 ON e.user_id = t1.user_id
         WHERE e.event_type = 'click' AND epoch_us(ts) > t1 GROUP BY 1),
       t3 AS (
         SELECT e.user_id, MIN(epoch_us(ts)) AS t3
         FROM events e JOIN t2 ON e.user_id = t2.user_id
         WHERE e.event_type = 'purchase' AND epoch_us(ts) > t2 GROUP BY 1),
       c AS (
         SELECT (SELECT COUNT(*) FROM t1) AS u1,
                (SELECT COUNT(*) FROM t2) AS u2,
                (SELECT COUNT(*) FROM t3) AS u3)
       SELECT * FROM (
         SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage,
           CAST(u1 AS BIGINT) AS users, CAST(1000000 AS BIGINT) AS conv_ppm
         FROM c
         UNION ALL
         SELECT 2, 'click_after_view', u2,
           CASE WHEN u1 > 0 THEN u2 * 1000000 // u1 ELSE 0 END FROM c
         UNION ALL
         SELECT 3, 'purchase_after_click', u3,
           CASE WHEN u2 > 0 THEN u3 * 1000000 // u2 ELSE 0 END FROM c)
       ORDER BY step"""),
      // q145: the three per-step user counts are 1-row global
      // aggregates crossed into the 3-row report — the q17/q69 shape;
      // everything upstream is user-keyed map-side-combined mins.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),

    // ---- COHORT RETENTION MATRIX ------------------------------------------
    // Week-of-first-event cohorts x week offset -> distinct active users,
    // with exact ppm retention against the cohort size. Weeks are pure
    // integer arithmetic on microsecond epochs (no calendar/timezone
    // semantics to drift between engines). Scale shape: the first-seen
    // frame is one map-side-combined min per user; the activity matrix is
    // a (cohort, offset)-keyed countDistinct (Spark's two-level internal
    // expansion); cohort sizes are a cohort-count-sized broadcast.
    // wk = floor(micros / week): the pmod-subtract form floors for ANY
    // sign (Spark `div` truncates toward zero; DuckDB `//` floors — a
    // pre-epoch event would silently diverge the engines otherwise)
    QueryDef("q146_cohort_retention", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 604800000000)) " +
          "div 604800000000").as("wk"))
      val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val sizes = first.groupBy("cohort_wk")
        .agg(count(lit(1)).as("cohort_users"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk"))
          .as("week_offset"))
        .agg(countDistinct("user_id").as("active_users"))
        .join(broadcast(sizes), Seq("cohort_wk"))
        .select(col("cohort_wk"), col("week_offset"), col("active_users"),
          col("cohort_users"),
          expr("active_users * 1000000 div cohort_users")
            .as("retention_ppm"))
        .orderBy("cohort_wk", "week_offset")
    },
      // q146 oracle: identical integer week arithmetic on microsecond
      // epochs — floor division on non-negative values, so DuckDB's `//`
      // equals Spark's `div`.
      oracle = Some("""WITH ev AS (
         SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
       first AS (
         SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1),
       sizes AS (
         SELECT cohort_wk, COUNT(*) AS cohort_users FROM first GROUP BY 1),
       act AS (
         SELECT f.cohort_wk, e.wk - f.cohort_wk AS week_offset,
           COUNT(DISTINCT e.user_id) AS active_users
         FROM ev e JOIN first f ON e.user_id = f.user_id
         GROUP BY 1, 2)
       SELECT a.cohort_wk, a.week_offset, a.active_users, s.cohort_users,
         a.active_users * 1000000 // s.cohort_users AS retention_ppm
       FROM act a JOIN sizes s ON a.cohort_wk = s.cohort_wk
       ORDER BY a.cohort_wk, a.week_offset""")),

    // ---- RECENCY-DECAYED ACTIVITY -------------------------------------------
    // Half-life-weighted per-type activity: each event contributes
    // 0.5^(weeks before the corpus's newest week) — the freshness signal
    // a mixing pipeline feeds into source weights (stale domains decay,
    // active ones dominate). Deterministic across engines because
    // 0.5^k is a power of two (exact in IEEE double for any k here) and
    // the per-event terms DECIMAL-sum order-independently. Scale shape:
    // one integer-week projection, a broadcast 1-row max, one map-side-
    // combined agg — no windows, no corpus-sized exchange.
    // wk: same pre-epoch-safe floor-div as q146
    QueryDef("q148_decayed_activity", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 604800000000)) " +
          "div 604800000000").as("wk"))
      val latest = ev.agg(max("wk").as("max_wk"))
      ev.crossJoin(broadcast(latest))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          max("wk").as("latest_wk"),
          sum(round(pow(lit(0.5), col("max_wk") - col("wk")), 6)
              .cast(DecimalType(18, 6))).cast("double")
            .as("decayed_score"))
        .orderBy("event_type")
    }, oracle = Some("""WITH ev AS (
           SELECT event_type, epoch_us(ts) // 604800000000 AS wk
           FROM events),
         mx AS (SELECT MAX(wk) AS max_wk FROM ev)
         SELECT event_type, COUNT(*) AS n_events, MAX(wk) AS latest_wk,
           CAST(SUM(CAST(round(power(0.5, max_wk - wk), 6)
             AS DECIMAL(18,6))) AS DOUBLE) AS decayed_score
         FROM ev CROSS JOIN mx
         GROUP BY event_type ORDER BY event_type"""),
      // q148: crossJoin(broadcast(1-row corpus-max-week frame)) — the
      // q17/q69 scalar-stats shape; the per-type agg map-side combines.
      accepted = Set("BroadcastNestedLoopJoin", "SinglePartition-exchange")),
  )
}
