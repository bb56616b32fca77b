package graft.operators

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-analytics query shapes over the event stream — funnel
  * conversion, cohort retention, value histograms. The serving-layer
  * companions to the dashboard counts (SURVEY.md §2.D): all two-phase
  * aggregates or one-shuffle conditional aggregations, no per-user state.
  */
object Analytics {

  /** Ordered funnel: per user the earliest time of each stage, converted
    * when the stages happened in order. One grouped conditional-min pass —
    * no self-joins, no window, |users| rows after the single shuffle. */
  val funnelQ = QueryDef(
    "funnel_conversion",
    "view->click->purchase ordered funnel: per-stage user counts",
    Some("""WITH f AS (SELECT user_id,
                              min(CASE WHEN event_type = 'view'
                                       THEN epoch_us(ts) END) AS v,
                              min(CASE WHEN event_type = 'click'
                                       THEN epoch_us(ts) END) AS c,
                              min(CASE WHEN event_type = 'purchase'
                                       THEN epoch_us(ts) END) AS p
                       FROM events GROUP BY user_id)
            SELECT count(*) FILTER (v IS NOT NULL) AS n_viewed,
                   count(*) FILTER (v IS NOT NULL AND c > v) AS n_clicked_after,
                   count(*) FILTER (v IS NOT NULL AND c > v AND p > c) AS n_converted
            FROM f"""),
    (s, dir) => {
      def stageMin(tpe: String) =
        min(when(col("event_type") === tpe, unix_micros(col("ts"))))
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(stageMin("view").as("v"), stageMin("click").as("c"),
          stageMin("purchase").as("p"))
        .agg(
          count(when(col("v").isNotNull, 1)).as("n_viewed"),
          count(when(col("v").isNotNull && col("c") > col("v"), 1))
            .as("n_clicked_after"),
          count(when(col("v").isNotNull && col("c") > col("v") &&
            col("p") > col("c"), 1)).as("n_converted"))
    })

  /** Cohort retention: users grouped by signup week crossed with the weeks
    * they were active — the classic retention matrix. Signup weeks come from
    * one aggregate; the signup map scales with users, so no broadcast
    * hint — AQE picks the join side at runtime. Both engines truncate to
    * ISO Monday weeks. */
  val cohortQ = QueryDef(
    "cohort_retention",
    "signup-week x active-week distinct-user retention matrix",
    Some("""WITH su AS (SELECT user_id,
                               strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS signup_wk
                        FROM events WHERE event_type = 'signup' GROUP BY 1)
            SELECT su.signup_wk,
                   strftime(date_trunc('week', e.ts), '%Y-%m-%d') AS active_wk,
                   count(DISTINCT e.user_id) AS n_users
            FROM events e JOIN su ON e.user_id = su.user_id
            GROUP BY 1, 2"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
      val signup = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id").as("su_user"))
        .agg(date_format(date_trunc("week", min(col("ts"))), "yyyy-MM-dd")
          .as("signup_wk"))
      e.join(signup, col("user_id") === col("su_user"))
        .groupBy(col("signup_wk"),
          date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("active_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    })

  /** Fixed-width value histogram by explicit floor binning (identical
    * arithmetic in both engines — no engine-specific bucket function),
    * overflow clamped into the top bin. */
  val histogramQ = QueryDef(
    "value_histogram",
    "event value histogram: 17 bins of width 20, top bin clamped",
    Some(s"""SELECT least(CAST(floor(value / 20) AS BIGINT), 16) AS bin,
                    count(*) AS n, ${Num.sqlAvg("value", 6, 4)} AS mean_in_bin
             FROM events GROUP BY 1"""),
    (s, dir) => Tables.events(s, dir)
      .groupBy(least(floor(col("value") / 20).cast("long"), lit(16L)).as("bin"))
      .agg(count(lit(1)).as("n"), Num.pavg(col("value"), 6, 4).as("mean_in_bin")))

  /** RFM feature vector per user — the classic recency/frequency/monetary
    * triple plus activity breadth, the feature-engineering aggregate a
    * training pipeline derives from an event log. One two-phase aggregation
    * (all five aggregates partial map-side); recency is an exact integer
    * microsecond difference against the corpus max via a broadcast scalar. */
  val rfmQ = QueryDef(
    "user_rfm_features",
    "per-user RFM features: recency, frequency, monetary, active days",
    Some(s"""WITH mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS m FROM events)
             SELECT user_id,
                    (SELECT m FROM mx) - max(epoch_us(CAST(ts AS TIMESTAMP))) AS recency_us,
                    count(*) AS frequency,
                    ${Num.sqlSum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END", 6, 2)}
                      AS monetary,
                    count(DISTINCT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS active_days
             FROM events GROUP BY user_id"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
      val mx = e.agg(max(unix_micros(col("ts"))).as("m"))
      e.groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("last_us"),
          count(lit(1)).as("frequency"),
          Num.psum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0), 6, 2).as("monetary"),
          countDistinct(date_format(col("ts"), "yyyy-MM-dd")).as("active_days"))
        .join(broadcast(mx))
        .select(col("user_id"), (col("m") - col("last_us")).as("recency_us"),
          col("frequency"), col("monetary"), col("active_days"))
    })

  /** Volume-anomaly report: daily event counts per type flagged against the
    * type's median daily volume (median, not mean — robust to the anomalies
    * themselves). Both engines share the exact interpolated-percentile
    * definition, so the flag threshold compares bit-identical doubles. Two
    * tiny aggregations (days x types, then types) + a broadcast join back. */
  val anomalyQ = QueryDef(
    "events_daily_anomaly",
    "daily volume per event type flagged against 0.5x-1.5x of the type median",
    Some(s"""WITH d AS (SELECT event_type,
                               strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                               count(*) AS n
                        FROM events GROUP BY 1, 2),
              m AS (SELECT event_type, quantile_cont(n, 0.5) AS med
                    FROM d GROUP BY 1)
              SELECT d.event_type, d.day, d.n, ${Num.sql("m.med", 4)} AS median_n,
                     (CAST(d.n AS DOUBLE) > 1.5 * m.med OR
                      CAST(d.n AS DOUBLE) < 0.5 * m.med) AS is_anomaly
              FROM d JOIN m ON d.event_type = m.event_type"""),
    (s, dir) => {
      val d = Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val m = d.groupBy(col("event_type").as("m_type"))
        .agg(expr("percentile(n, 0.5)").as("med"))
      d.join(broadcast(m), col("event_type") === col("m_type"))
        .select(col("event_type"), col("day"), col("n"),
          Num.pround(col("med"), 4).as("median_n"),
          (col("n").cast("double") > col("med") * 1.5 ||
            col("n").cast("double") < col("med") * 0.5).as("is_anomaly"))
    })

  /** Market-basket co-occurrence: baskets are (user, day); lift(x,y) =
    * P(x,y) / (P(x)·P(y)) over baskets. The self-join runs on the DISTINCT
    * (user, day, type) table — each basket holds at most |event-type vocab|
    * rows, so the join output is bounded by |baskets|·|vocab|² with a tiny
    * vocab, i.e. linear in baskets at 100 TB; supports and the basket count
    * are broadcast scalars. Lift is an exact integer ratio taken to double
    * once, at the end. */
  val basketQ = QueryDef(
    "basket_lift",
    "event-type co-occurrence lift over (user, day) baskets",
    Some(s"""WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
                        FROM events),
             n AS (SELECT count(*) AS nb
                   FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)),
             sup AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1),
             pair AS (SELECT a.event_type AS x, b2.event_type AS y, count(*) AS n_xy
                      FROM b a JOIN b b2
                        ON a.user_id = b2.user_id AND a.day = b2.day
                       AND a.event_type < b2.event_type
                      GROUP BY 1, 2)
             SELECT x, y, n_xy,
                    ${Num.sql("(CAST(n_xy AS DOUBLE) * nb) / (sx.n * sy.n)", 4)} AS lift
             FROM pair CROSS JOIN n
             JOIN sup sx ON sx.event_type = x
             JOIN sup sy ON sy.event_type = y"""),
    (s, dir) => {
      // the distinct basket table feeds four consumers (both self-join sides,
      // supports, basket count): cache it so the event scan + distinct
      // shuffle run once
      val b = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        .distinct().cache()
      val nb = b.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("nb"))
      val sup = b.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      b.as("a")
        .join(b.as("b2"),
          col("a.user_id") === col("b2.user_id") &&
            col("a.day") === col("b2.day") &&
            col("a.event_type") < col("b2.event_type"))
        .groupBy(col("a.event_type").as("x"), col("b2.event_type").as("y"))
        .agg(count(lit(1)).as("n_xy"))
        .crossJoin(broadcast(nb))
        .join(broadcast(sup.withColumnRenamed("event_type", "sx")
          .withColumnRenamed("n", "n_x")), col("sx") === col("x"))
        .join(broadcast(sup.withColumnRenamed("event_type", "sy")
          .withColumnRenamed("n", "n_y")), col("sy") === col("y"))
        .select(col("x"), col("y"), col("n_xy"),
          Num.pround((col("n_xy").cast("double") * col("nb")) /
            (col("n_x") * col("n_y")), 4).as("lift"))
    })

  /** Time-series gap fill: the hourly per-type activity grid with empty
    * slots materialized as zero-count rows and the per-type hourly mean
    * value carried forward (the prepare-for-forecasting shape). The grid is
    * |types| × |hours| — bounded by wall-clock time, not data volume, so the
    * scaffold cross join and the per-type forward-fill window stay tiny at
    * any corpus scale; the only data-sized pass is the first aggregation. */
  val gapfillQ = QueryDef(
    "ts_gapfill",
    "hourly per-type grid: zero-filled counts + forward-filled mean value",
    Some(s"""WITH e AS (SELECT event_type,
                               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                               value
                        FROM events),
             byh AS (SELECT event_type, hr, count(*) AS n_events,
                            ${Num.sqlAvg("value", 6, 4)} AS avg_value
                     FROM e GROUP BY 1, 2),
             b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM e),
             hrs AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM b),
             g AS (SELECT t.event_type, h.hr
                   FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN hrs h)
             SELECT g.event_type,
                    CAST(floor(epoch(g.hr)) AS BIGINT) AS hour_start,
                    coalesce(byh.n_events, 0) AS n_events,
                    last_value(byh.avg_value IGNORE NULLS) OVER (
                      PARTITION BY g.event_type ORDER BY g.hr
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_ff
             FROM g LEFT JOIN byh
               ON byh.event_type = g.event_type AND byh.hr = g.hr"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
          col("value"))
      val byh = e.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n_events"),
          Num.pavg(col("value"), 6, 4).as("avg_value"))
      val hrs = e.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hr"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("event_type")).distinct()
        .crossJoin(broadcast(hrs))
        .join(byh, Seq("event_type", "hr"), "left_outer")
        .withColumn("avg_value_ff",
          last(col("avg_value"), ignoreNulls = true).over(w))
        .select(col("event_type"), unix_timestamp(col("hr")).as("hour_start"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("avg_value_ff"))
    })

  /** Decile bucketization — the quantile feature transform ML pipelines run
    * before discretization-sensitive models. Boundaries are the exact
    * interpolated percentiles ROUNDED to 4 places (both engines share the
    * (n-1)p definition and the rounding, so the bucket comparison is over
    * identical doubles); the assignment pass is a broadcast of 9 scalars +
    * one codegen'd comparison chain, no shuffle of the fact side. At 100 TB
    * swap the boundary aggregate for `approx_percentile` (same plan shape,
    * bounded memory) — exact percentiles keep the oracle bit-tight here. */
  val bucketizeQ = QueryDef(
    "feature_bucketize",
    "decile-bucket the event value: exact rounded boundaries, broadcast assign",
    Some {
      val bexprs = (1 to 9)
        .map(i => s"${Num.sql(s"quantile_cont(value, 0.$i)", 4)} AS b$i")
        .mkString(",\n                        ")
      val chain = (1 to 9)
        .map(i => s"CASE WHEN e.value >= b.b$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH b AS (SELECT $bexprs FROM events)
          SELECT e.event_id, $chain AS bucket
          FROM events e CROSS JOIN b"""
    },
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val bAggs = (1 to 9).map(i =>
        Num.pround(expr(s"percentile(value, 0.$i)"), 4).as(s"b$i"))
      val bounds = ev.agg(bAggs.head, bAggs.tail: _*)
      val bucket = (1 to 9)
        .map(i => when(col("value") >= col(s"b$i"), 1).otherwise(0))
        .reduceLeft(_ + _)
      ev.select(col("event_id"), col("value"))
        .crossJoin(broadcast(bounds))
        .select(col("event_id"), bucket.as("bucket"))
    })

  private val sessGapUs = 1800000000L

  /** Interval-OVERLAP join: for each user session (30-min-gap windows, as in
    * `session_windows`), how many other users had a session overlapping it in
    * time. The join shape Spark lacks natively: blocked by exploding each
    * interval to the time bins it spans, equi-joining on bin, and emitting a
    * qualifying pair exactly once — in the bin containing the LATER session
    * start (both intervals necessarily cover that instant, hence intersect
    * that bin, FOR ANY bin width — which is what makes the width a pure
    * performance knob), so no post-join dedup. The oracle runs the quadratic
    * theta join; the engine's candidate work scales with per-bin
    * concurrency, never |sessions|².
    *
    * THE BIN WIDTH IS CORPUS-DERIVED (r13 — the density knee arrived at sf30
    * exactly as SCALE.md predicted: the fixed 1-hour bin cost 96 → 892 s for
    * 3× density, elasticity 2.0). Candidate volume per unit time is
    * ρ²·(L+W)²/W for session arrival rate ρ, mean session length L, bin
    * width W: a session intersects (L/W + 1) bins, so per-bin concurrency is
    * ρ(L+W) and there are 1/W bins per unit time. d/dW[(L+W)²/W] = 0 at
    * **W = L** — the bins should be AS WIDE AS THE THING BEING JOINED. This
    * corpus's sessions average ~43 s against the old 3600 s bin, an ~21×
    * candidate-volume overhang ((L+3600)²/3600 ÷ 4L with L=43). The law
    * needs mean session length, which falls out of the already-cached
    * session table for free (exact BIGINT sum / count — deterministic under
    * any partitioning); clamped to [1 s, 1 h] so degenerate corpora (all
    * single-instant sessions, or day-long sessions) stay sane. Driver stat ⇒
    * Deferred, per the lshGeometry/dedup_clusters discipline. At the NEXT
    * density decade the law self-adjusts only via L; if ρ²L ever outgrows
    * the cluster, the remaining lever is the output itself (∝ρ²L) — no
    * algorithm beats its own output size. */
  val sessionOverlapQ = QueryDef(
    "session_overlap_join",
    "per-session concurrency: interval-overlap self-join via hour-bin blocking",
    Some(s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                        FROM events),
             x AS (SELECT *, CASE WHEN lag(ts_us) OVER
                       (PARTITION BY user_id ORDER BY ts_us) IS NULL
                       OR ts_us - lag(ts_us) OVER
                         (PARTITION BY user_id ORDER BY ts_us) > $sessGapUs
                     THEN 1 ELSE 0 END AS brk FROM e),
             g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                   FROM x),
             s AS (SELECT user_id, min(ts_us) AS s0, max(ts_us) AS s1
                   FROM g GROUP BY user_id, sid)
             SELECT a.user_id, a.s0 AS session_start_us, count(*) AS n_concurrent
             FROM s a JOIN s b
               ON a.user_id <> b.user_id AND a.s0 <= b.s1 AND b.s0 <= a.s1
             GROUP BY 1, 2"""),
    (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("user_id", LongType),
        StructField("session_start_us", LongType),
        StructField("n_concurrent", LongType, nullable = false))),
        () => {
          val sess = sessionize(Tables.events(s, dir))
            .cache() // stats pass + both sides of the bin-blocked self-join
          // W = clamp(E[session length], 1 s, 1 h) — the (L+W)²/W minimizer;
          // exact BIGINT arithmetic, invariant under partitioning
          val st = sess.agg(sum(col("s1") - col("s0")).as("lenSum"),
            count(lit(1)).as("n")).head()
          val binUs = math.max(1000000L,
            math.min(3600000000L, st.getLong(0) / math.max(1L, st.getLong(1))))
          sessionOverlapBinned(sess, binUs)
        })
    })

  /** 30-min-gap sessionization: (user_id, s0, s1) per session. */
  private[graft] def sessionize(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("brk",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > sessGapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("s0"), max(col("ts_us")).as("s1"))
      .drop("sid")
  }

  /** The bin-blocked overlap self-join at an explicit bin width — the
    * operator form PlanSpec pins (the catalog entry is Deferred-wrapped by
    * the width derivation, which makes its plan opaque to explain). */
  private[graft] def sessionOverlapBinned(sess: DataFrame,
      binUs: Long): DataFrame = {
    def binned(alias: String) = sess
      .withColumn("bin",
        explode(expr(s"sequence(s0 div $binUs, s1 div $binUs)")))
      .select(col("user_id").as(s"${alias}_u"), col("s0").as(s"${alias}0"),
        col("s1").as(s"${alias}1"), col("bin"))
    // r17 (guide §3.1): per-bin occupancy grows with scale while the bin
    // count tracks only the time span (sf10: ~318 exploded rows per bin
    // over 60k bins) — the dense-key regime where the AQE SMJ→SHJ
    // rewrite's per-key hash chains lose 2.5x (r16 interleaved A/B). Probe the
    // TRUE exploded bin occupancy on the cached session table and pin
    // merge past the bar; the probe's broadcast gates leave small scales
    // (which broadcast) alone.
    val binsDf = sess.select(
      explode(expr(s"sequence(s0 div $binUs, s1 div $binUs)")).as("bin"))
    val pm = graft.plans.ProbeUtil.preferMergeFewKeys(binsDf, binsDf,
      col("bin"), col("bin"))
    val a = if (pm) binned("a").hint("merge") else binned("a")
    a.join(binned("b"), "bin")
      .filter(col("a_u") =!= col("b_u") &&
        col("a0") <= col("b1") && col("b0") <= col("a1") &&
        col("bin") === expr(s"greatest(a0, b0) div $binUs"))
      .groupBy(col("a_u").as("user_id"), col("a0").as("session_start_us"))
      .agg(count(lit(1)).as("n_concurrent"))
  }

  /** Gini coefficient of per-user event volume — the standard inequality
    * measure ("do 1% of users generate 90% of events?"). Gini needs a GLOBAL
    * rank of users by activity; computed with [[LmData.globalRowNumber]]'s
    * two-level scan so no stage windows over the full user table, then the
    * rank-weighted formula G = (2·Σi·xᵢ - (n+1)·Σxᵢ) / (n·Σxᵢ) over exact
    * BIGINT sums — one IEEE division at the end. */
  val giniQ = QueryDef(
    "gini_user_activity",
    "Gini coefficient of per-user event counts (two-level global rank)",
    Some(s"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
             r AS (SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM c),
             s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                          CAST(sum(n) AS BIGINT) AS total_events,
                          CAST(sum(i * n) AS BIGINT) AS wsum FROM r)
             SELECT n_users, total_events,
                    ${Num.sql(
                      "(2.0 * wsum - (n_users + 1.0) * total_events) / " +
                      "(n_users * CAST(total_events AS DOUBLE))", 6)} AS gini
             FROM s"""),
    (s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      LmData.globalRowNumber(counts, "n", "user_id", 16L)
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("total_events"),
          sum(col("pos") * col("n")).as("wsum"))
        .select(col("n_users"), col("total_events"),
          Num.pround((lit(2.0) * col("wsum") -
            (col("n_users") + lit(1.0)) * col("total_events")) /
            (col("n_users") * col("total_events").cast("double")), 6)
            .as("gini"))
    })

  /** Week-over-week churn per event type: users active in week w who do NOT
    * return for that type in week w+1 (the final week has no successor and
    * contributes only its active count). The anti join runs on the DISTINCT
    * (week, type, user) activity table — one row per active pair, so at
    * 100 TB the join carries |active users| x |weeks| narrow rows, never raw
    * events; the activity table is cached for its three consumers. */
  val churnQ = QueryDef(
    "churn_weekly",
    "per-type weekly churn: active users not returning the following week",
    Some("""WITH a AS (SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk,
                              event_type, user_id FROM events),
            wks AS (SELECT DISTINCT wk FROM a),
            ch AS (SELECT a.wk, a.event_type, count(*) AS n_churned
                   FROM a
                   WHERE EXISTS (SELECT 1 FROM wks n WHERE n.wk = a.wk + 1)
                     AND NOT EXISTS (SELECT 1 FROM a b WHERE b.wk = a.wk + 1
                       AND b.user_id = a.user_id AND b.event_type = a.event_type)
                   GROUP BY 1, 2),
            act AS (SELECT wk, event_type, count(*) AS n_active FROM a GROUP BY 1, 2)
            SELECT act.wk, act.event_type, act.n_active,
                   coalesce(ch.n_churned, 0) AS n_churned
            FROM act LEFT JOIN ch
              ON ch.wk = act.wk AND ch.event_type = act.event_type"""),
    (s, dir) => {
      val a = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 604800000000").as("wk"),
          col("event_type"), col("user_id"))
        .distinct().cache()
      val wks = a.select(col("wk")).distinct()
      val withNext = a.join(broadcast(
          wks.select((col("wk") - 1).as("wk"))), Seq("wk"), "left_semi")
      val nextShifted = a.select((col("wk") - 1).as("wk"),
        col("event_type"), col("user_id"))
      val churned = withNext
        .join(nextShifted, Seq("wk", "event_type", "user_id"), "left_anti")
        .groupBy(col("wk"), col("event_type"))
        .agg(count(lit(1)).as("n_churned"))
        .withColumnRenamed("wk", "c_wk")
        .withColumnRenamed("event_type", "c_type")
      a.groupBy(col("wk"), col("event_type"))
        .agg(count(lit(1)).as("n_active"))
        .join(churned, col("wk") === col("c_wk") &&
          col("event_type") === col("c_type"), "left_outer")
        .select(col("wk"), col("event_type"), col("n_active"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
    })

  /** Pearson correlation between event value and time-of-day per type,
    * computed from the five raw moments in ONE aggregation pass — the
    * manual formula rather than the built-in `corr`, whose accumulation
    * algorithms (Welford vs naive) differ between engines and would break
    * the oracle; sqrt is IEEE correctly-rounded, so the only slack is
    * aggregation-order ulps absorbed by the rounding. Map-side partials;
    * |types| rows of state. */
  val corrQ = QueryDef(
    "corr_value_hour",
    "Pearson r of value vs hour-of-day per type, from one-pass raw moments",
    Some(s"""WITH e AS (SELECT event_type, value AS x,
                    CAST(epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000 AS DOUBLE)
                      / 3600000000 AS y
                  FROM events),
             m AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                          sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
                          sum(y*y) AS syy, sum(x*y) AS sxy
                   FROM e GROUP BY 1)
             SELECT event_type,
                    ${Num.sql(
                      "(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))",
                      4)} AS r
             FROM m"""),
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        col("value").as("x"),
        ((unix_micros(col("ts")) % 86400000000L).cast("double") /
          3600000000L).as("y"))
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"),
          Num.pround((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r"))
    })

  /** Pareto contribution analysis: each type's share of total value and the
    * cumulative share in contribution order — the 80/20 report. The
    * cumulative window runs over |types| rows (bounded by the category
    * vocabulary, not the data); its frame order is total, so the running
    * sum is sequential and engine-identical. */
  val paretoQ = QueryDef(
    "pareto_share",
    "value contribution and cumulative share per type (80/20 analysis)",
    Some(s"""WITH t AS (SELECT event_type, ${Num.sqlSum("value", 6, 2)} AS revenue
                        FROM events GROUP BY 1),
             tot AS (SELECT sum(revenue) AS tot FROM t)
             SELECT event_type, revenue,
                    ${Num.sql(
                      """sum(revenue) OVER (ORDER BY revenue DESC, event_type
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tot.tot""",
                      4)} AS cum_share
             FROM t CROSS JOIN tot"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // cached: two consumers (the grand total + the share projection) —
      // uncached, the corpus-scale revenue aggregation runs twice
      val t = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(Num.psum(col("value"), 6, 2).as("revenue"))
        .cache()
      val tot = t.agg(sum(col("revenue")).as("tot"))
      val w = Window.orderBy(col("revenue").desc, col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.crossJoin(broadcast(tot))
        .select(col("event_type"), col("revenue"),
          Num.pround(sum(col("revenue")).over(w) / col("tot"), 4)
            .as("cum_share"))
    })

  /** Robust z-score anomaly flags: daily volumes more than 3 scaled MADs
    * from the type median (MAD = median absolute deviation, the robust
    * spread measure — a single spike inflates a standard deviation but not
    * the MAD). Both engines share the exact interpolated-percentile
    * definition, so median, MAD and the flag threshold compare identical
    * doubles. Two tiny aggregations over the days x types table plus
    * broadcast joins back — the data-sized pass is only the first count. */
  val madAnomalyQ = QueryDef(
    "events_daily_mad",
    "daily volume flagged beyond 3 scaled MADs of the per-type median",
    Some(s"""WITH d AS (SELECT event_type,
                               strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                               count(*) AS n
                        FROM events GROUP BY 1, 2),
             m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM d GROUP BY 1),
             dev AS (SELECT d.event_type, d.day, d.n, m.med,
                            abs(d.n - m.med) AS dev
                     FROM d JOIN m ON d.event_type = m.event_type),
             md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
                    FROM dev GROUP BY 1)
             SELECT dev.event_type, dev.day, dev.n,
                    ${Num.sql("dev.med", 4)} AS median_n,
                    ${Num.sql("md.mad", 4)} AS mad_n,
                    (dev.dev > 3 * 1.4826 * md.mad) AS is_anomaly
             FROM dev JOIN md ON dev.event_type = md.event_type"""),
    (s, dir) => {
      val d = Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val m = d.groupBy(col("event_type").as("m_type"))
        .agg(expr("percentile(n, 0.5)").as("med"))
      val dev = d.join(broadcast(m), col("event_type") === col("m_type"))
        .select(col("event_type"), col("day"), col("n"), col("med"),
          abs(col("n") - col("med")).as("dev"))
      val md = dev.groupBy(col("event_type").as("d_type"))
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(md), col("event_type") === col("d_type"))
        .select(col("event_type"), col("day"), col("n"),
          Num.pround(col("med"), 4).as("median_n"),
          Num.pround(col("mad"), 4).as("mad_n"),
          (col("dev") > lit(3) * lit(1.4826) * col("mad")).as("is_anomaly"))
    })

  /** Conversion latency: per converted user, the gap from FIRST view to the
    * first purchase strictly after it, summarized as exact interpolated
    * percentiles (emitted as floored integer microseconds, so no float
    * drift can reach the hash). Two keyed aggregations + one co-partitioned
    * join on user_id; the percentile runs over |converted users| values. */
  val convLatencyQ = QueryDef(
    "conversion_latency",
    "median/p90 microseconds from first view to first subsequent purchase",
    Some("""WITH v AS (SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
                       FROM events WHERE event_type = 'view' GROUP BY 1),
            p AS (SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
                  FROM events e JOIN v ON v.user_id = e.user_id
                  WHERE e.event_type = 'purchase'
                    AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.v_us
                  GROUP BY 1)
            SELECT count(*) AS n_converted,
                   CAST(floor(quantile_cont(p.p_us - v.v_us, 0.5)) AS BIGINT)
                     AS med_latency_us,
                   CAST(floor(quantile_cont(p.p_us - v.v_us, 0.9)) AS BIGINT)
                     AS p90_latency_us
            FROM p JOIN v ON p.user_id = v.user_id"""),
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("ts_us") > col("v_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
      p.join(v, "user_id")
        .select((col("p_us") - col("v_us")).as("lat"))
        .agg(count(lit(1)).as("n_converted"),
          floor(expr("percentile(lat, 0.5)")).cast("long").as("med_latency_us"),
          floor(expr("percentile(lat, 0.9)")).cast("long").as("p90_latency_us"))
    })

  val defs: Seq[QueryDef] =
    Seq(funnelQ, cohortQ, histogramQ, rfmQ, anomalyQ, basketQ, gapfillQ,
      bucketizeQ, sessionOverlapQ, giniQ, churnQ, corrQ, paretoQ, madAnomalyQ,
      convLatencyQ)
}
