package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.stats.StatsOps
import graft.timeseries.TimeOps
import graft.design.DesignOps

/** Time-series / window queries on the `events` table (SURVEY.md §2.5).
  *
  * `events.ts` is parquet TIMESTAMP(NANOS); Spark reads it as epoch-nanos
  * LongType under spark.sql.legacy.parquet.nanosAsLong=true (set in every
  * session builder). DuckDB reads it as TIMESTAMP_NS, so oracle SQL converts
  * with epoch_us(ts); timestamps in outputs are always epoch microseconds
  * cast to BIGINT/DOUBLE so schemas agree across engines.
  */
object TimeSeries extends QueryModule {

  /** W1+W3: lagged difference of value per user, ordered by (ts, event_id),
    * leading null → 0 (ssm_loop.py:48-49 motion-derivative analog). */
  def windowLagDiff(s: SparkSession, d: String): DataFrame =
    TimeOps
      .lagDiff(events(s, d), "value", Seq("user_id"), Seq("ts", "event_id"))
      .select(col("event_id"), col("user_id"), col("value"), col("diff"))
      .orderBy("event_id")

  private val windowLagDiffSql =
    """SELECT event_id, user_id, value,
      |  COALESCE(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0) AS diff
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** A6: per-user z-score of value, population ddof (scipy zscore semantics,
    * ssm_loop.py:81-82). Exact-decimal moments; see StatsOps.zscore. */
  def zscoreByUser(s: SparkSession, d: String): DataFrame =
    StatsOps
      .zscore(events(s, d), "value", Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("z"))
      .orderBy("event_id")

  private val zscoreByUserSql =
    """WITH m AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq,
      |    CAST(COUNT(*) AS DOUBLE) AS n
      |  FROM events GROUP BY user_id
      |), mm AS (
      |  SELECT user_id, s/n AS mean, sq/n - (s/n)*(s/n) AS var FROM m
      |)
      |SELECT e.event_id, e.user_id, (e.value - mm.mean) / sqrt(nullif(mm.var, 0.0)) AS z
      |FROM events e JOIN mm ON e.user_id = mm.user_id
      |ORDER BY e.event_id""".stripMargin

  /** J2: boxcar design expansion — hourly timeline vs event intervals
    * [onset, onset+value sec), one indicator column per event_type
    * (onsets_to_dm, ssm_loop.py:43). */
  def boxcarDesign(s: SparkSession, d: String): DataFrame = {
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val trials = events(s, d).select(
      ((expr("ts div 1000") - baseUs) / 1000000.0).as("onset"),
      col("value").as("duration"),
      col("event_type").as("trial_type"),
    )
    DesignOps
      .boxcar(trials, Seq("click", "error", "purchase", "signup", "view"), 3600.0, 168)
      .orderBy("t").coalesce(1) // one output file: see DesignOps.boxcar
  }

  private val boxcarDesignSql =
    """WITH tl AS (
      |  SELECT CAST(g AS BIGINT) AS t, CAST(g AS BIGINT) * 3600.0 AS sec
      |  FROM generate_series(0, 167) AS gs(g)
      |), tr AS (
      |  SELECT (epoch_us(ts) - 1704067200000000) / 1000000.0 AS onset,
      |         value AS duration, event_type AS trial_type
      |  FROM events
      |)
      |SELECT t,
      |  MAX(CASE WHEN onset <= sec AND sec < onset + duration AND trial_type = 'click'    THEN 1 ELSE 0 END) AS click,
      |  MAX(CASE WHEN onset <= sec AND sec < onset + duration AND trial_type = 'error'    THEN 1 ELSE 0 END) AS error,
      |  MAX(CASE WHEN onset <= sec AND sec < onset + duration AND trial_type = 'purchase' THEN 1 ELSE 0 END) AS purchase,
      |  MAX(CASE WHEN onset <= sec AND sec < onset + duration AND trial_type = 'signup'   THEN 1 ELSE 0 END) AS signup,
      |  MAX(CASE WHEN onset <= sec AND sec < onset + duration AND trial_type = 'view'     THEN 1 ELSE 0 END) AS view
      |FROM tl CROSS JOIN tr
      |GROUP BY t
      |ORDER BY t""".stripMargin

  /** As-of join: for each purchase, the most recent prior (or simultaneous)
    * click of the same user. Distributed union+window form — see
    * TimeOps.asofJoin. */
  def asofPurchaseClick(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
    TimeOps
      .asofJoin(purchases, clicks, Seq("user_id"), "ts", Seq("click_ts"))
      .select(
        col("event_id"),
        col("user_id"),
        expr("ts div 1000").cast("double").as("ts_us"),
        expr("asof_click_ts div 1000").cast("double").as("last_click_us"),
      )
      .orderBy("event_id")
  }

  private val asofPurchaseClickSql =
    """SELECT p.event_id, p.user_id,
      |  CAST(epoch_us(p.ts) AS DOUBLE) AS ts_us,
      |  CAST((SELECT max(epoch_us(c.ts)) FROM events c
      |        WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |          AND c.ts <= p.ts) AS DOUBLE) AS last_click_us
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  /** Tumbling hourly window aggregate (SURVEY.md §2.10 extension): per
    * (hour, event_type) counts and exact value sums. */
  def tumblingHourly(s: SparkSession, d: String): DataFrame =
    TimeOps
      .tumbling(events(s, d), "ts", 3600L * 1000000000L)
      .groupBy(col("bucket").cast("long").as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
      )
      .orderBy("hour", "event_type")

  private val tumblingHourlySql =
    """SELECT epoch_us(ts) // 3600000000 AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  /** q52: per-user session windows, 30-minute inactivity gap — Spark's
    * session_window vs DuckDB gaps-and-islands (lag + running break sum).
    * Session end = last event + gap in both formulations. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(col("user_id") < 30)
      .select(expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("value"))
    graft.streaming.StreamOps.sessionize(ev, "ts", "user_id", "30 minutes")
      .select(
        expr("unix_micros(session_start)").as("start_us"),
        expr("unix_micros(session_end)").as("end_us"),
        col("user_id"), col("n_events"), col("sum_value"),
      )
      .orderBy("user_id", "start_us")
  }

  private val sessionizeSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us, value FROM events WHERE user_id < 30
      |), brks AS (
      |  SELECT user_id, us, value,
      |    CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
      |         OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |      THEN 1 ELSE 0 END AS brk
      |  FROM e
      |), sess AS (
      |  SELECT user_id, us, value,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM brks
      |)
      |SELECT MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
      |  user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  // ---- q219: retention cohorts ---------------------------------------------
  // The classic cohort-retention matrix over the event stream: each
  // user's cohort is their first active day, and cell (cohort, offset)
  // counts users from that cohort active offset days later, with the
  // rate against cohort size. All day math in exact integer µs (the q52
  // grain — `ts div 1000` on the nanos column, epoch_us in the oracle);
  // one correctly-rounded division per output row.
  //
  // Scale shape: ONE data-sized exchange (the (user, day) distinct
  // collapses multiple events per user-day map-side); the cohort fold
  // and the activity join both partition on user_id (co-partitioned,
  // AQE-handled), and the matrix itself is days²-bounded. No window, no
  // driver state.

  def retentionCohorts(s: SparkSession, d: String): DataFrame =
    retentionCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  /** Cohort matrix from a (user_id, day) activity relation — split out
    * so specs can plant activity calendars. */
  private[graft] def retentionCore(userDay: DataFrame): DataFrame = {
    val ud = userDay.select("user_id", "day")
      .distinct().localCheckpoint() // user·day-bounded; 2 consumers
    val coh = ud.groupBy("user_id").agg(min("day").as("c_day"))
      .localCheckpoint() // |users| rows; activity join + cohort sizes
    val act = ud.join(coh, Seq("user_id"))
      .selectExpr("c_day", "day - c_day AS offset_days")
      .groupBy("c_day", "offset_days").agg(count(lit(1)).as("n_active"))
    val sz = coh.groupBy("c_day").agg(count(lit(1)).as("cohort_n"))
    act.join(broadcast(sz), Seq("c_day"))
      .selectExpr("c_day AS cohort_day", "offset_days", "n_active", "cohort_n",
        "round(CAST(n_active AS DOUBLE) / cohort_n, 6) AS retention")
      .orderBy("cohort_day", "offset_days")
  }

  private val retentionSql =
    """WITH ud AS MATERIALIZED (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |),
      |coh AS MATERIALIZED (
      |  SELECT user_id, MIN(day) AS c_day FROM ud GROUP BY 1
      |),
      |act AS (
      |  SELECT coh.c_day, ud.day - coh.c_day AS offset_days,
      |    CAST(count(*) AS BIGINT) AS n_active
      |  FROM ud JOIN coh ON coh.user_id = ud.user_id GROUP BY 1, 2
      |),
      |sz AS (
      |  SELECT c_day, CAST(count(*) AS BIGINT) AS cohort_n FROM coh GROUP BY 1
      |)
      |SELECT act.c_day AS cohort_day, act.offset_days, act.n_active,
      |  sz.cohort_n,
      |  round(CAST(act.n_active AS DOUBLE) / sz.cohort_n, 6) AS retention
      |FROM act JOIN sz ON sz.c_day = act.c_day
      |ORDER BY cohort_day, offset_days""".stripMargin

  // ---- q233: revenue cohorts (cohort LTV curve) ------------------------------
  // The monetization companion of q219: per (cohort, offset) cell the
  // active-user count PLUS the exact purchase revenue landed by that
  // cohort on that day, its ARPU (revenue / cohort size — the additive
  // cumulative-LTV increment), and the revenue retention rate vs the
  // cohort's day-0 revenue. Revenue rides exact integer CENTS
  // (round(value·100) the q01 discipline) summed as BIGINT; cells come
  // from the ACTIVITY grid (a purchase implies activity, so no cell is
  // lost), zeros explicit; two correctly-rounded divisions per row
  // (rev0 = 0 ⇒ NULL rate).
  //
  // Scale shape: q219's — one (user, day)-distinct exchange + one
  // purchase-grain aggregate, both co-partitioned on user_id; the
  // matrix stays days²-bounded.

  def revenueCohorts(s: SparkSession, d: String): DataFrame =
    revenueCohortsCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day",
        "event_type", "CAST(round(value * 100, 0) AS BIGINT) AS cents"))

  /** Cohort LTV matrix from (user_id, day, event_type, cents) events. */
  private[graft] def revenueCohortsCore(ev0: DataFrame): DataFrame = {
    val ev = ev0.select("user_id", "day", "event_type", "cents")
      .localCheckpoint() // activity + revenue consumers
    val ud = ev.select("user_id", "day").distinct().localCheckpoint()
    val coh = ud.groupBy("user_id").agg(min("day").as("c_day"))
      .localCheckpoint() // |users| rows; 3 consumers
    val act = ud.join(coh, Seq("user_id"))
      .selectExpr("c_day", "day - c_day AS offset_days")
      .groupBy("c_day", "offset_days").agg(count(lit(1)).as("n_active"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(coh, Seq("user_id"))
      .selectExpr("c_day", "day - c_day AS offset_days", "cents")
      .groupBy("c_day", "offset_days").agg(sum("cents").as("rev_c"))
    val sz = coh.groupBy("c_day").agg(count(lit(1)).as("cohort_n"))
    val cells = act.join(rev, Seq("c_day", "offset_days"), "left")
      .na.fill(0L, Seq("rev_c"))
      .localCheckpoint() // days²-bounded; output + day-0 extract
    cells
      .join(broadcast(sz), Seq("c_day"))
      .join(broadcast(cells.filter(col("offset_days") === 0L)
        .selectExpr("c_day", "rev_c AS rev0_c")), Seq("c_day"), "left")
      .selectExpr("c_day AS cohort_day", "offset_days", "n_active", "cohort_n",
        "round(CAST(rev_c AS DOUBLE) / 100.0, 6) AS revenue",
        "round(CAST(rev_c AS DOUBLE) / 100.0 / cohort_n, 6) AS arpu",
        "CASE WHEN rev0_c > 0 THEN round(CAST(rev_c AS DOUBLE) / rev0_c, 6) END AS rev_retention")
      .orderBy("cohort_day", "offset_days")
  }

  private val revenueCohortsSql =
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events
      |),
      |ud AS MATERIALIZED (SELECT DISTINCT user_id, day FROM ev),
      |coh AS MATERIALIZED (SELECT user_id, MIN(day) AS c_day FROM ud GROUP BY 1),
      |act AS (
      |  SELECT coh.c_day, ud.day - coh.c_day AS offset_days,
      |    CAST(count(*) AS BIGINT) AS n_active
      |  FROM ud JOIN coh ON coh.user_id = ud.user_id GROUP BY 1, 2
      |),
      |rev AS (
      |  SELECT coh.c_day, ev.day - coh.c_day AS offset_days,
      |    CAST(SUM(ev.cents) AS BIGINT) AS rev_c
      |  FROM ev JOIN coh ON coh.user_id = ev.user_id
      |  WHERE ev.event_type = 'purchase' GROUP BY 1, 2
      |),
      |sz AS (SELECT c_day, CAST(count(*) AS BIGINT) AS cohort_n FROM coh GROUP BY 1),
      |cells AS MATERIALIZED (
      |  SELECT act.c_day, act.offset_days, act.n_active,
      |    COALESCE(rev.rev_c, 0) AS rev_c
      |  FROM act LEFT JOIN rev
      |    ON rev.c_day = act.c_day AND rev.offset_days = act.offset_days
      |)
      |SELECT cells.c_day AS cohort_day, cells.offset_days, cells.n_active,
      |  sz.cohort_n,
      |  round(CAST(cells.rev_c AS DOUBLE) / 100.0, 6) AS revenue,
      |  round(CAST(cells.rev_c AS DOUBLE) / 100.0 / sz.cohort_n, 6) AS arpu,
      |  CASE WHEN z.rev0_c > 0
      |    THEN round(CAST(cells.rev_c AS DOUBLE) / z.rev0_c, 6) END AS rev_retention
      |FROM cells
      |JOIN sz ON sz.c_day = cells.c_day
      |LEFT JOIN (SELECT c_day, rev_c AS rev0_c FROM cells WHERE offset_days = 0) z
      |  ON z.c_day = cells.c_day
      |ORDER BY cohort_day, offset_days""".stripMargin

  // ---- q235: RFM segmentation -------------------------------------------------
  // The classic customer-base segmentation (Hughes' RFM): per user the
  // Recency (days since last activity, against the observed calendar
  // end), Frequency (distinct active days), Monetary (exact purchase
  // cents), each scored 1–5 by QUINTILE CUTOFFS and reported as the
  // segment grid (r_score, f_score, m_score) → user count + exact mean
  // monetary. Scores come from VALUE thresholds (exact type-7
  // percentiles at 0.2/0.4/0.6/0.8 — the q159 shared-semantics
  // percentile/quantile_cont pair), not a global rank: a rank-based
  // NTILE needs one total-order window over every user, a
  // single-partition wall at 10⁸ users, while the cutoff form is two
  // distributed aggregates + a broadcast join — ties share a bucket by
  // construction (deterministic, engine-independent). score = 1 + #
  // {cutoffs beaten}: higher F/M is better, LOWER recency is better.
  //
  // Scale shape: one (user, day)-distinct exchange + one purchase
  // aggregate → a |users|-bounded relation; cutoffs are one aggregate
  // row broadcast back; the grid is ≤ 125 rows.

  private val rfmQs = Seq(0.2, 0.4, 0.6, 0.8)

  def rfmSegments(s: SparkSession, d: String): DataFrame =
    rfmSegmentsCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day",
        "event_type", "CAST(round(value * 100, 0) AS BIGINT) AS cents"))

  /** RFM grid from (user_id, day, event_type, cents) events. */
  private[graft] def rfmSegmentsCore(ev0: DataFrame): DataFrame = {
    val ev = ev0.select("user_id", "day", "event_type", "cents")
      .localCheckpoint()
    val ud = ev.select("user_id", "day").distinct()
    val rf = ud.groupBy("user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("f"))
    val m = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum("cents").as("m_c"))
    val user = rf.join(m, Seq("user_id"), "left").na.fill(0L, Seq("m_c"))
      .crossJoin(broadcast(ud.agg(max("day").as("d1"))))
      .selectExpr("user_id", "d1 - last_day AS r", "f", "m_c")
      .localCheckpoint() // |users|-bounded; cutoffs + scoring
    val qsStr = rfmQs.mkString("array(", ", ", ")")
    val cuts = user.agg(
      expr(s"percentile(r, $qsStr)").as("rc"),
      expr(s"percentile(f, $qsStr)").as("fc"),
      expr(s"percentile(m_c, $qsStr)").as("mc"))
    // cutoffs are mathematically j/5-fractional interpolations of
    // integers (1-dp rationals); the two engines interpolate with
    // different expression orders, so round to 6 dp before comparing —
    // collapses the ulp gap without moving any true boundary
    def score(col0: String, cutsCol: String, lowerIsBetter: Boolean): String = {
      val cmp = if (lowerIsBetter) "<" else ">"
      (0 until rfmQs.size)
        .map(i => s"(CASE WHEN CAST($col0 AS DOUBLE) $cmp round($cutsCol[$i], 6) THEN 1 ELSE 0 END)")
        .mkString("CAST(1 + ", " + ", " AS BIGINT)")
    }
    user.crossJoin(broadcast(cuts))
      .selectExpr("user_id", "m_c",
        s"${score("r", "rc", lowerIsBetter = true)} AS r_score",
        s"${score("f", "fc", lowerIsBetter = false)} AS f_score",
        s"${score("m_c", "mc", lowerIsBetter = false)} AS m_score")
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"), sum("m_c").as("sm"))
      .selectExpr("r_score", "f_score", "m_score", "n_users",
        "round(CAST(sm AS DOUBLE) / 100.0 / n_users, 6) AS avg_monetary")
      .orderBy("r_score", "f_score", "m_score")
  }

  private val rfmSegmentsSql = {
    def score(col0: String, cutsCol: String, cmp: String): String =
      (1 to rfmQs.size)
        .map(i => s"(CASE WHEN CAST($col0 AS DOUBLE) $cmp round($cutsCol[$i], 6) THEN 1 ELSE 0 END)")
        .mkString("CAST(1 + ", " + ", " AS BIGINT)")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
       |    CAST(round(value * 100, 0) AS BIGINT) AS cents
       |  FROM events
       |),
       |ud AS MATERIALIZED (SELECT DISTINCT user_id, day FROM ev),
       |rf AS (
       |  SELECT user_id, MAX(day) AS last_day, CAST(count(*) AS BIGINT) AS f
       |  FROM ud GROUP BY 1
       |),
       |mm AS (
       |  SELECT user_id, CAST(SUM(cents) AS BIGINT) AS m_c
       |  FROM ev WHERE event_type = 'purchase' GROUP BY 1
       |),
       |usr AS MATERIALIZED (
       |  SELECT rf.user_id, (SELECT MAX(day) FROM ud) - rf.last_day AS r,
       |    rf.f, COALESCE(mm.m_c, 0) AS m_c
       |  FROM rf LEFT JOIN mm ON mm.user_id = rf.user_id
       |),
       |cuts AS (
       |  SELECT quantile_cont(r, [${rfmQs.mkString(", ")}]) AS rc,
       |    quantile_cont(f, [${rfmQs.mkString(", ")}]) AS fc,
       |    quantile_cont(m_c, [${rfmQs.mkString(", ")}]) AS mc
       |  FROM usr
       |),
       |scored AS (
       |  SELECT user_id, m_c,
       |    ${score("r", "rc", "<")} AS r_score,
       |    ${score("f", "fc", ">")} AS f_score,
       |    ${score("m_c", "mc", ">")} AS m_score
       |  FROM usr CROSS JOIN cuts
       |)
       |SELECT r_score, f_score, m_score,
       |  CAST(count(*) AS BIGINT) AS n_users,
       |  round(CAST(SUM(m_c) AS DOUBLE) / 100.0 / count(*), 6) AS avg_monetary
       |FROM scored
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin
  }

  // ---- q221: DAU / WAU / MAU + stickiness ------------------------------------
  // The rolling active-user panel: per calendar day, distinct users
  // active that day (DAU), in the trailing 7 days (WAU), in the trailing
  // 30 days (MAU), and the DAU/MAU stickiness ratio. The trailing
  // distinct count avoids a sliding DISTINCT window: each (user, day)
  // activity row EXPANDS to the ≤ 30 target days it keeps the user
  // active for, then a distinct + count per target day — the standard
  // contribution-expansion trick, |users|·days·30-bounded, with target
  // days clamped to the observed calendar so ramp-out days past the last
  // activity don't appear. One division per row.
  //
  // Scale shape: one data-sized exchange (the (user, day) distinct);
  // the expansion multiplies the day-grain relation by ≤ 30, stays
  // user·day·30-bounded, and aggregates map-side. No window function.

  private[graft] val mauDays = 30L

  /** Active-user panel from a (user_id, day) activity relation. The day
    * frame is the FULL observed calendar (d0..d1): an activity gap longer
    * than the MAU window yields explicit 0/0/0 rows, never silent holes. */
  private[graft] def activeUsersCore(userDay: DataFrame): DataFrame = {
    val ud = userDay.select("user_id", "day")
      .distinct().localCheckpoint() // user·day-bounded; cal + span
    val cal = ud.agg(min("day").as("d0"), max("day").as("d1"))
      .localCheckpoint() // one row; calendar + span clamp
    val span = ud.crossJoin(broadcast(cal))
      .selectExpr("user_id", "day",
        s"explode(sequence(day, least(day + ${mauDays - 1}, d1))) AS t_day")
      .selectExpr("user_id", "t_day", "t_day - day AS age")
      .localCheckpoint() // user·day·30-bounded; read by all 3 windows
    val calendar = cal.selectExpr("explode(sequence(d0, d1)) AS t_day")
    def trailing(win: Long, name: String) = span
      .filter(col("age") < win)
      .select("user_id", "t_day").distinct()
      .groupBy("t_day").agg(count(lit(1)).as(name))
    calendar
      .join(trailing(mauDays, "mau"), Seq("t_day"), "left")
      .join(trailing(7L, "wau"), Seq("t_day"), "left")
      .join(trailing(1L, "dau"), Seq("t_day"), "left")
      .na.fill(0L, Seq("dau", "wau", "mau"))
      .selectExpr("t_day AS day", "dau", "wau", "mau",
        "CASE WHEN mau > 0 THEN round(CAST(dau AS DOUBLE) / mau, 6) END AS stickiness")
      .orderBy("day")
  }

  def activeUsers(s: SparkSession, d: String): DataFrame =
    activeUsersCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  private val activeUsersSql =
    s"""WITH ud AS MATERIALIZED (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |),
       |cal AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
       |span AS MATERIALIZED (
       |  SELECT ud.user_id, u.t_day, u.t_day - ud.day AS age
       |  FROM ud CROSS JOIN cal,
       |    unnest(generate_series(ud.day, least(ud.day + ${mauDays - 1}, cal.d1))) u(t_day)
       |),
       |calendar AS (
       |  SELECT unnest(generate_series(cal.d0, cal.d1)) AS t_day FROM cal
       |),
       |dau AS (SELECT t_day, CAST(count(*) AS BIGINT) AS dau FROM (
       |  SELECT DISTINCT user_id, t_day FROM span WHERE age < 1) GROUP BY 1),
       |wau AS (SELECT t_day, CAST(count(*) AS BIGINT) AS wau FROM (
       |  SELECT DISTINCT user_id, t_day FROM span WHERE age < 7) GROUP BY 1),
       |mau AS (SELECT t_day, CAST(count(*) AS BIGINT) AS mau FROM (
       |  SELECT DISTINCT user_id, t_day FROM span WHERE age < $mauDays) GROUP BY 1)
       |SELECT calendar.t_day AS day, COALESCE(dau.dau, 0) AS dau,
       |  COALESCE(wau.wau, 0) AS wau, COALESCE(mau.mau, 0) AS mau,
       |  CASE WHEN COALESCE(mau.mau, 0) > 0
       |    THEN round(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / mau.mau, 6) END AS stickiness
       |FROM calendar
       |LEFT JOIN mau ON mau.t_day = calendar.t_day
       |LEFT JOIN dau ON dau.t_day = calendar.t_day
       |LEFT JOIN wau ON wau.t_day = calendar.t_day
       |ORDER BY day""".stripMargin

  // ---- q224: KMV-sketched DAU/WAU/MAU (q221's scale twin) --------------------
  // The mergeable-sketch form of the active-user panel: q221's trailing
  // distinct counts are EXACT but user·day·30-bounded — at 100 TB of
  // events the production shape is one O(k) distinct sketch per
  // (day, window), merged map-side (communication O(k × partitions),
  // never a user-keyed exchange per target day). The sketch is q100's
  // bottom-k KMV over the radix-31 poly-hash of the user id: the k
  // smallest DISTINCT hashes of a SET are partition- and order-free, so
  // the estimate is bit-identical under any partitioning and the DuckDB
  // oracle replays it EXACTLY (ROW_NUMBER over distinct hashes), not
  // just within an error bound. Each row carries the exact count beside
  // the estimate, so the panel is self-auditing; the spec bounds the
  // relative error at the 1/√k class and pins the exact-regime
  // (n < k → est = n) equality. k = 64 < DAU at both SFs (125+ users
  // active per day — measured), so the estimate regime is live in every
  // window on the driver data.
  //
  // Hash uniformity (the KmvSketch contract): the bare radix-31 fold of
  // a SHORT numeric id is far too structured for an order statistic —
  // "1".."500" fold to small clustered values and the estimate explodes
  // (measured 5 orders off). The id is therefore salted to a longer
  // string ("kmv:<u>:<u>", so the fold wraps mod P) and passed through
  // TWO rounds of the quadratic map x → x² + c (mod P) — the Pollard-rho
  // mixer, exact int64 both engines (x < P ⇒ x² + c < 2⁶⁰). Measured
  // relative error on sequential ids 150..40000: ≤ 11%, inside the
  // 1/√64 = 12.5% class (the bare fold read −72%; square-only +40×).
  //
  // Scale shape: one data-sized exchange (the (user, day) distinct);
  // the ≤ 30× contribution expansion feeds three hours-bounded sketch
  // aggregates whose partials are fixed k-long buffers. At true
  // production scale the expansion itself disappears: per-day sketches
  // are built once and the trailing window MERGES 7 or 30 of them —
  // KMV's mergeability is exactly what the exact panel lacks.

  private[graft] val kmvK = 64

  /** The shared salted-fold + two-rho-rounds user hash (see the q224
    * section note) — ONE site so the batch panel and its sketch-store
    * streaming twin can never drift on the hash. */
  private[graft] def withKmvHash(df: DataFrame): DataFrame = {
    import graft.functions.Hashing
    df
      .withColumn("h0", Hashing.poly_hash(concat(lit("kmv:"),
        col("user_id").cast("string"), lit(":"), col("user_id").cast("string"))))
      .withColumn("h1", expr("pmod(h0 * h0 + 1234567, 1000000007)"))
      .withColumn("h", expr("pmod(h1 * h1 + 7654321, 1000000007)"))
      .drop("h0", "h1")
  }

  /** The shared bottom-k estimator over a SORTED distinct-hash array
    * column `sh` (the KmvDistinct.eval arithmetic as SQL). */
  private[graft] def kmvEstStr(sh: String): String =
    s"CASE WHEN size($sh) < $kmvK THEN CAST(size($sh) AS BIGINT) " +
      s"ELSE CAST(${kmvK - 1} AS BIGINT) * 1000000007 div (element_at($sh, $kmvK) + 1) END"

  /** Sketched panel from a (user_id, day) activity relation. */
  private[graft] def activeUsersKmvCore(userDay: DataFrame): DataFrame = {
    import graft.functions.KmvDistinct
    val ud = userDay.select("user_id", "day")
      .distinct().localCheckpoint() // user·day-bounded; cal + span
    val cal = ud.agg(min("day").as("d0"), max("day").as("d1"))
      .localCheckpoint() // one row; calendar + span clamp
    val span = withKmvHash(ud.crossJoin(broadcast(cal))
      .selectExpr("user_id", "day",
        s"explode(sequence(day, least(day + ${mauDays - 1}, d1))) AS t_day")
      .selectExpr("user_id", "t_day", "t_day - day AS age"))
      .localCheckpoint() // user·day·30-bounded; read by all 3 windows
    val calendar = cal.selectExpr("explode(sequence(d0, d1)) AS t_day")
    def trailing(win: Long, name: String) = span
      .filter(col("age") < win)
      .groupBy("t_day")
      .agg(countDistinct(col("user_id")).as(name),
        KmvDistinct.kmv_distinct(col("h"), kmvK, graft.text.TextOps.P)
          .as(s"${name}_est"))
    calendar
      .join(trailing(mauDays, "mau"), Seq("t_day"), "left")
      .join(trailing(7L, "wau"), Seq("t_day"), "left")
      .join(trailing(1L, "dau"), Seq("t_day"), "left")
      .na.fill(0L, Seq("dau", "dau_est", "wau", "wau_est", "mau", "mau_est"))
      .selectExpr("t_day AS day", "dau", "dau_est", "wau", "wau_est",
        "mau", "mau_est")
      .orderBy("day")
  }

  def activeUsersKmv(s: SparkSession, d: String): DataFrame =
    activeUsersKmvCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  private val activeUsersKmvSql = {
    val wins = Seq(("dau", 1L), ("wau", 7L), ("mau", mauDays))
    val winCtes = wins.map { case (nm, w) =>
      s"""x_$nm AS (
         |  SELECT t_day, CAST(count(DISTINCT user_id) AS BIGINT) AS $nm
         |  FROM span WHERE age < $w GROUP BY 1
         |),
         |e_$nm AS (
         |  SELECT t_day,
         |    CAST(CASE WHEN max(nd) < $kmvK THEN max(nd)
         |         ELSE CAST(${kmvK - 1} AS BIGINT) * 1000000007 // (max(CASE WHEN r = $kmvK THEN h END) + 1)
         |         END AS BIGINT) AS ${nm}_est
         |  FROM (
         |    SELECT t_day, h,
         |      ROW_NUMBER() OVER (PARTITION BY t_day ORDER BY h) AS r,
         |      count(*) OVER (PARTITION BY t_day) AS nd
         |    FROM (SELECT DISTINCT t_day, h FROM span WHERE age < $w)
         |  ) GROUP BY t_day
         |)""".stripMargin
    }.mkString(",\n")
    val joins = wins.map { case (nm, _) =>
      s"""LEFT JOIN x_$nm ON x_$nm.t_day = calendar.t_day
         |LEFT JOIN e_$nm ON e_$nm.t_day = calendar.t_day""".stripMargin
    }.mkString("\n")
    s"""WITH ud AS MATERIALIZED (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |),
       |cal AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
       |span0 AS (
       |  SELECT ud.user_id, u.t_day, u.t_day - ud.day AS age,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(
       |        'kmv:' || CAST(ud.user_id AS VARCHAR) || ':' || CAST(ud.user_id AS VARCHAR),
       |        ''), c -> CAST(ord(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h0
       |  FROM ud CROSS JOIN cal,
       |    unnest(generate_series(ud.day, least(ud.day + ${mauDays - 1}, cal.d1))) u(t_day)
       |),
       |span AS MATERIALIZED (
       |  SELECT user_id, t_day, age, (h1 * h1 + 7654321) % 1000000007 AS h
       |  FROM (SELECT user_id, t_day, age,
       |          (h0 * h0 + 1234567) % 1000000007 AS h1 FROM span0)
       |),
       |calendar AS (
       |  SELECT unnest(generate_series(cal.d0, cal.d1)) AS t_day FROM cal
       |),
       |$winCtes
       |SELECT calendar.t_day AS day,
       |  COALESCE(x_dau.dau, 0) AS dau, COALESCE(e_dau.dau_est, 0) AS dau_est,
       |  COALESCE(x_wau.wau, 0) AS wau, COALESCE(e_wau.wau_est, 0) AS wau_est,
       |  COALESCE(x_mau.mau, 0) AS mau, COALESCE(e_mau.mau_est, 0) AS mau_est
       |FROM calendar
       |$joins
       |ORDER BY day""".stripMargin
  }

  // ---- q220: conversion funnel (windowed, ordered) --------------------------
  // The ordered view → click → purchase funnel with a 24 h conversion
  // window per hop: stage n's timestamp is the user's first qualifying
  // event STRICTLY AFTER stage n−1's, within the window — the standard
  // product-analytics definition (unwindowed, this corpus converts
  // everyone: 150→60→25 users at sf0.01 under 24 h, measured live).
  // Exact integer µs throughout; rates are one division each.
  //
  // Scale shape: one filtered pass per stage, each an equi-join on
  // user_id against the previous stage's |users|-bounded relation
  // (co-partitioned); the output is |stages| rows. No window function,
  // no driver state.

  private val funnelWindowUs = 86400000000L // 24 h
  private val funnelStages = Seq("view", "click", "purchase")

  def funnel(s: SparkSession, d: String): DataFrame =
    funnelCore(events(s, d)
      .selectExpr("user_id", "event_type", "CAST(ts div 1000 AS BIGINT) AS us"))

  /** Funnel from a (user_id, event_type, us) relation — split out so
    * specs can plant event sequences around the window boundary. */
  private[graft] def funnelCore(ev0: DataFrame): DataFrame = {
    val ev = ev0.select("user_id", "event_type", "us")
      .localCheckpoint() // read once per stage
    var prev: DataFrame = null
    val counts = funnelStages.zipWithIndex.map { case (tpe, i) =>
      val mine = ev.filter(col("event_type") === tpe)
      val t = if (i == 0) mine.groupBy("user_id").agg(min("us").as("t"))
      else mine.join(prev.selectExpr("user_id", "t AS tp"), Seq("user_id"))
        .filter(expr(s"us > tp AND us <= tp + $funnelWindowUs"))
        .groupBy("user_id").agg(min("us").as("t"))
      prev = t.localCheckpoint() // |users|-bounded; next stage + count
      prev.agg(count(lit(1)).as("n_users"))
        .selectExpr(s"CAST(${i + 1} AS BIGINT) AS stage",
          s"'$tpe' AS event_type", "n_users")
    }
    val ns = counts.reduce(_ unionByName _).localCheckpoint() // 3 rows
    ns
      .join(ns.selectExpr("stage + 1 AS stage", "n_users AS n_prev"),
        Seq("stage"), "left")
      .crossJoin(broadcast(ns.filter(col("stage") === 1L)
        .selectExpr("n_users AS n_first")))
      .selectExpr("stage", "event_type", "n_users",
        "CASE WHEN n_prev > 0 THEN round(CAST(n_users AS DOUBLE) / n_prev, 6) END AS conv_prev",
        "CASE WHEN n_first > 0 THEN round(CAST(n_users AS DOUBLE) / n_first, 6) END AS conv_total")
      .orderBy("stage")
  }

  private val funnelSql =
    s"""WITH s1 AS MATERIALIZED (
       |  SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
       |  WHERE event_type = 'view' GROUP BY 1
       |),
       |s2 AS MATERIALIZED (
       |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
       |  FROM events e JOIN s1 ON s1.user_id = e.user_id
       |  WHERE e.event_type = 'click'
       |    AND epoch_us(e.ts) > s1.t AND epoch_us(e.ts) <= s1.t + $funnelWindowUs
       |  GROUP BY 1
       |),
       |s3 AS MATERIALIZED (
       |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
       |  FROM events e JOIN s2 ON s2.user_id = e.user_id
       |  WHERE e.event_type = 'purchase'
       |    AND epoch_us(e.ts) > s2.t AND epoch_us(e.ts) <= s2.t + $funnelWindowUs
       |  GROUP BY 1
       |),
       |ns AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
       |    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
       |  UNION ALL
       |  SELECT 2, 'click', (SELECT count(*) FROM s2)
       |  UNION ALL
       |  SELECT 3, 'purchase', (SELECT count(*) FROM s3)
       |)
       |SELECT ns.stage, ns.event_type, ns.n_users,
       |  CASE WHEN pv.n_prev > 0
       |    THEN round(CAST(ns.n_users AS DOUBLE) / pv.n_prev, 6) END AS conv_prev,
       |  CASE WHEN f.n_first > 0
       |    THEN round(CAST(ns.n_users AS DOUBLE) / f.n_first, 6) END AS conv_total
       |FROM ns
       |LEFT JOIN (SELECT stage + 1 AS stage, n_users AS n_prev FROM ns) pv
       |  ON pv.stage = ns.stage
       |CROSS JOIN (SELECT n_users AS n_first FROM ns WHERE stage = 1) f
       |ORDER BY ns.stage""".stripMargin

  // ---- q237: funnel time-to-convert -----------------------------------------
  // The latency half of q220's funnel (the other number every product
  // dashboard shows beside conversion): per stage ≥ 2, the MEDIAN and
  // P90 of the converters' time from the previous stage's qualifying
  // event. Deltas are exact integer µs; the percentiles are exact
  // type-7 (the q159 percentile/quantile_cont pair) reported in µs
  // rounded to 1 dp — a type-7 quantile of integers at q ∈ {0.5, 0.9}
  // is a j/10-fractional rational, so the 1-dp rounding collapses the
  // engines' interpolation-order ulp gap without moving any true value
  // (reporting in rounded SECONDS instead could land a true value
  // exactly on a half-up boundary — the q235 lesson at the time grain).
  //
  // Scale shape: q220's — per stage one co-partitioned user join +
  // one |converters|-bounded percentile aggregate; |stages| output rows.

  def funnelTtc(s: SparkSession, d: String): DataFrame =
    funnelTtcCore(events(s, d)
      .selectExpr("user_id", "event_type", "CAST(ts div 1000 AS BIGINT) AS us"))

  /** Per-stage conversion-latency panel from (user_id, event_type, us). */
  private[graft] def funnelTtcCore(ev0: DataFrame): DataFrame = {
    val ev = ev0.select("user_id", "event_type", "us")
      .localCheckpoint() // read once per stage
    var prev: DataFrame = null
    val rows = funnelStages.zipWithIndex.map { case (tpe, i) =>
      val t =
        if (i == 0) ev.filter(col("event_type") === tpe)
          .groupBy("user_id").agg(min("us").as("t"))
          .withColumn("tp", lit(null).cast("long"))
        else ev.filter(col("event_type") === tpe)
          .join(prev.selectExpr("user_id", "t AS tp0"), Seq("user_id"))
          .filter(expr(s"us > tp0 AND us <= tp0 + $funnelWindowUs"))
          .groupBy("user_id", "tp0").agg(min("us").as("t"))
          .selectExpr("user_id", "t", "tp0 AS tp")
      prev = t.localCheckpoint() // |users|-bounded; next stage + stats
      prev.agg(count(lit(1)).as("n_users"),
          expr("percentile(t - tp, 0.5D)").as("med0"),
          expr("percentile(t - tp, 0.9D)").as("p900"))
        .selectExpr(s"CAST(${i + 1} AS BIGINT) AS stage",
          s"'$tpe' AS event_type", "n_users",
          "round(med0, 1) AS med_ttc_us", "round(p900, 1) AS p90_ttc_us")
    }
    rows.reduce(_ unionByName _).orderBy("stage")
  }

  private val funnelTtcSql =
    s"""WITH t1 AS MATERIALIZED (
       |  SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
       |  WHERE event_type = 'view' GROUP BY 1
       |),
       |t2 AS MATERIALIZED (
       |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t, t1.t AS tp
       |  FROM events e JOIN t1 ON t1.user_id = e.user_id
       |  WHERE e.event_type = 'click'
       |    AND epoch_us(e.ts) > t1.t AND epoch_us(e.ts) <= t1.t + $funnelWindowUs
       |  GROUP BY 1, 3
       |),
       |t3 AS MATERIALIZED (
       |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t, t2.t AS tp
       |  FROM events e JOIN t2 ON t2.user_id = e.user_id
       |  WHERE e.event_type = 'purchase'
       |    AND epoch_us(e.ts) > t2.t AND epoch_us(e.ts) <= t2.t + $funnelWindowUs
       |  GROUP BY 1, 3
       |)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
       |    (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_users,
       |    CAST(NULL AS DOUBLE) AS med_ttc_us, CAST(NULL AS DOUBLE) AS p90_ttc_us
       |  UNION ALL
       |  SELECT 2, 'click', (SELECT count(*) FROM t2),
       |    (SELECT round(quantile_cont(t - tp, 0.5), 1) FROM t2),
       |    (SELECT round(quantile_cont(t - tp, 0.9), 1) FROM t2)
       |  UNION ALL
       |  SELECT 3, 'purchase', (SELECT count(*) FROM t3),
       |    (SELECT round(quantile_cont(t - tp, 0.5), 1) FROM t3),
       |    (SELECT round(quantile_cont(t - tp, 0.9), 1) FROM t3)
       |)
       |ORDER BY stage""".stripMargin

  // ---- q222: error-rate spike detection (trailing-baseline z) ---------------
  // Hourly ops-anomaly detection: per hour the error fraction, a pooled
  // trailing-24h baseline rate p0 (current hour EXCLUDED — a spike must
  // not dilute its own baseline), and the one-proportion z statistic
  //   z = (p_t − p0) / sqrt(p0·(1 − p0) / n_t)
  // flagged at the conventional 3σ. Window sums are exact integers
  // (RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING on the integer hour, so
  // calendar gaps are handled); z's inputs are exact integers and its
  // ops (two divisions, one sqrt) are correctly rounded, so BOTH
  // engines compute the bit-identical double and the flag cannot
  // ULP-flip. Organically live: the 3σ gate fires on 2/720 hours at
  // sf0.01 and 1/720 at sf0.1 (measured). z is NULL (flag false) when
  // the baseline is empty, all-error, or error-free.
  //
  // Scale shape: ONE data-sized exchange (the hour aggregate); the
  // window runs over the hours-bounded relation. At production scale
  // the hour grain is tiny regardless of event volume; partition by a
  // service/tenant key to avoid the single-partition window if the key
  // exists.

  private val spikeZExpr =
    "CASE WHEN base_n > 0 AND base_err > 0 AND base_err < base_n AND n > 0 " +
      "THEN (CAST(e AS DOUBLE) / n - CAST(base_err AS DOUBLE) / base_n) " +
      "/ sqrt((CAST(base_err AS DOUBLE) / base_n) * (1 - CAST(base_err AS DOUBLE) / base_n) / n) END"

  /** Spike panel from an (hour, n, e) hourly-counts relation. */
  private[graft] def errorSpikesCore(h0: DataFrame): DataFrame = {
    val w = graft.util.Windows.boundedGlobalWindow(
      "one row per calendar hour", col("hour")).rangeBetween(-24, -1)
    h0.select("hour", "n", "e")
      .withColumn("base_n", coalesce(sum("n").over(w), lit(0L)))
      .withColumn("base_err", coalesce(sum("e").over(w), lit(0L)))
      .selectExpr("hour", "n AS n_total", "e AS n_err",
        "round(CAST(e AS DOUBLE) / n, 6) AS err_rate",
        "base_n", "base_err",
        // the flag derives from the ROUNDED z — the same value the row
        // emits — so a consumer re-checking `z > 3` can never see the
        // flag contradict the column at the display boundary
        s"round($spikeZExpr, 6) AS z",
        s"COALESCE(round($spikeZExpr, 6) > CAST(3 AS DOUBLE), false) AS spike")
      .orderBy("hour")
  }

  def errorSpikes(s: SparkSession, d: String): DataFrame =
    errorSpikesCore(events(s, d)
      .selectExpr(s"${graft.util.Tables.tsNanosHour} AS hour", "event_type")
      .groupBy("hour").agg(count(lit(1)).as("n"),
        sum(expr("CASE WHEN event_type = 'error' THEN CAST(1 AS BIGINT) ELSE 0 END")).as("e")))

  private val errorSpikesSql =
    s"""WITH h AS MATERIALIZED (
       |  SELECT epoch_us(ts) // 3600000000 AS hour,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
       |  FROM events GROUP BY 1
       |),
       |w AS (
       |  SELECT hour, n, e,
       |    CAST(COALESCE(SUM(n) OVER (ORDER BY hour
       |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base_n,
       |    CAST(COALESCE(SUM(e) OVER (ORDER BY hour
       |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base_err
       |  FROM h
       |)
       |SELECT hour, n AS n_total, e AS n_err,
       |  round(CAST(e AS DOUBLE) / n, 6) AS err_rate,
       |  base_n, base_err,
       |  round($spikeZExpr, 6) AS z,
       |  COALESCE(round($spikeZExpr, 6) > CAST(3 AS DOUBLE), false) AS spike
       |FROM w
       |ORDER BY hour""".stripMargin

  // ---- q159: framewise displacement + motion scrubbing (W1-W3 + QC) ------
  // The motion-QC step between the reference's confound extraction
  // (ssm_loop.py:46-50 pulls trans/rot columns; fmriprep_motion_hist.R
  // plots them) and the GLM: Power-style framewise displacement
  // FD_t = Σ|Δtrans| + 50·Σ|Δrot| per run, spike flagging, and the
  // standard censor augmentation (a spike at f censors frames f-1..f+2).
  //
  // Six synthetic motion params per (run, TR): exact cent sums split by
  // event_id residue (3 "translations", 3 "rotations"), grid-filled dense.
  // FD stays in INTEGER cents (|Δ| of exact sums, the ×50 rotation radius
  // integer) until the final /100 display divide, so flagging compares
  // integers-cast-to-double on both engines. The spike threshold is
  // RELATIVE (2.5× the run’s FD median — exact half-integers under the
  // shared type-7 percentile/quantile_cont), because an absolute
  // millimeter threshold is meaningless for synthetic magnitudes that
  // scale with data volume.
  //
  // Scale shape: one data-sized exchange (events → per-(run,TR) partial
  // aggregate); everything after is bounded at R·N rows. All windows
  // partition by run — no global window, no driver state.

  private val fdRuns = 8
  private val fdN = 168
  private val fdBaseUs = 1704067200000000L
  private val fdTrUs = 3600000000L

  private[graft] val fdStr =
    "abs(d_0) + abs(d_1) + abs(d_2) + 50 * (abs(d_3) + abs(d_4) + abs(d_5))"
  private[graft] val fdSpikeStr = "CAST(fd_c AS DOUBLE) > 2.5 * med"

  def fdScrub(s: SparkSession, d: String): DataFrame = {
    val pCols = (0 until 6).map(j => s"p_$j")
    val aggs = (0 until 6).map(j =>
      sum(when(col("j") === j, col("c")).otherwise(0L)).as(s"p_$j"))
    val raw = events(s, d)
      .filter(expr(s"ts div 1000 - $fdBaseUs >= 0"))
      .select((col("user_id") % fdRuns).as("run"),
        expr(s"(ts div 1000 - $fdBaseUs) div $fdTrUs").as("t"),
        (col("event_id") % 6).as("j"),
        expr("cast(floor(value * 100 + 0.5D) as bigint)").as("c"))
      .filter(col("t") < fdN)
      .groupBy("run", "t")
      .agg(aggs.head, aggs.tail: _*)
    val grid = s.range(fdRuns).select(col("id").as("run"))
      .crossJoin(s.range(fdN).select(col("id").as("t")))
    fdScrubCore(grid.join(raw, Seq("run", "t"), "left")
      .na.fill(0L, pCols))
  }

  /** The q159 body from a grid-filled (run, t, p_0..p_5) params relation —
    * split out so specs can plant motion traces. */
  private[graft] def fdScrubCore(filled: DataFrame): DataFrame = {
    val diffs = filled.selectExpr(Seq("run", "t") ++ (0 until 6).map(j =>
      s"COALESCE(p_$j - lag(p_$j) OVER (PARTITION BY run ORDER BY t), 0) AS d_$j"): _*)
    val fd = diffs.selectExpr("run", "t", s"$fdStr AS fd_c")
    val med = fd.groupBy("run").agg(expr("percentile(fd_c, 0.5)").as("med"))
    fd.join(broadcast(med), Seq("run"))
      .selectExpr("run", "t", "fd_c",
        s"CASE WHEN $fdSpikeStr THEN 1 ELSE 0 END AS spike")
      .selectExpr("run", "t", "fd_c", "spike",
        "MAX(spike) OVER (PARTITION BY run ORDER BY t " +
          "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS censored")
      .selectExpr("run", "t", "CAST(fd_c AS DOUBLE) / 100.0 AS fd",
        "CAST(spike AS BIGINT) AS spike", "CAST(censored AS BIGINT) AS censored")
      .orderBy("run", "t")
  }

  private val fdScrubSql = {
    val pSel = (0 until 6).map(j =>
      s"SUM(CASE WHEN j = $j THEN c ELSE 0 END) AS p_$j").mkString(",\n|    ")
    val dSel = (0 until 6).map(j =>
      s"COALESCE(p_$j - LAG(p_$j) OVER (PARTITION BY run ORDER BY t), 0) AS d_$j")
      .mkString(",\n|    ")
    s"""WITH raw AS (
       |  SELECT user_id % $fdRuns AS run,
       |    (epoch_us(ts) - $fdBaseUs) // $fdTrUs AS t,
       |    event_id % 6 AS j,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
       |  FROM events
       |  WHERE epoch_us(ts) - $fdBaseUs >= 0
       |), agg AS (
       |  SELECT run, t,
       |    $pSel
       |  FROM raw WHERE t < $fdN GROUP BY run, t
       |), grid AS (
       |  SELECT rs.r AS run, gs.g AS t
       |  FROM generate_series(0, ${fdRuns - 1}) AS rs(r),
       |       generate_series(0, ${fdN - 1}) AS gs(g)
       |), filled AS (
       |  SELECT grid.run, grid.t,
       |    ${(0 until 6).map(j => s"COALESCE(p_$j, 0) AS p_$j").mkString(", ")}
       |  FROM grid LEFT JOIN agg ON agg.run = grid.run AND agg.t = grid.t
       |), diffs AS (
       |  SELECT run, t,
       |    $dSel
       |  FROM filled
       |), fd AS (
       |  SELECT run, t, $fdStr AS fd_c FROM diffs
       |), med AS (
       |  SELECT run, quantile_cont(fd_c, 0.5) AS med FROM fd GROUP BY run
       |), flagged AS (
       |  SELECT fd.run, fd.t, fd_c,
       |    CASE WHEN $fdSpikeStr THEN 1 ELSE 0 END AS spike
       |  FROM fd JOIN med ON med.run = fd.run
       |)
       |SELECT run, t, CAST(fd_c AS DOUBLE) / 100.0 AS fd,
       |  CAST(spike AS BIGINT) AS spike,
       |  CAST(MAX(spike) OVER (PARTITION BY run ORDER BY t
       |    ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS censored
       |FROM flagged
       |ORDER BY run, t""".stripMargin
  }

  // ---- q242: KMV-sketched retention cohorts (q219's scale twin) --------------
  // The q224 treatment applied to the cohort matrix (r18 verdict gap
  // #5): per (cohort, offset) cell a bottom-k KMV estimate of the
  // distinct active users BESIDE the exact count (self-auditing, the
  // q224 panel discipline), plus the cohort-size estimate and the
  // all-sketch retention rate a sketch-only deployment would serve.
  // The hash is the SHARED withKmvHash (salted fold + two rho rounds —
  // one site, so q224/q242 and their streaming twins can never drift),
  // and the estimator is the shared bottom-k arithmetic. At 100 TB the
  // exact matrix's (user, day)-distinct exchange survives (q219), but
  // the per-cell distinct-count state does not need to: cells·k sketch
  // buffers merge map-side with no user-keyed exchange per cell — the
  // mergeability q219 lacks, exactly the q224 argument at the
  // (cohort, offset) grain.
  //
  // Scale shape: q219's one (user, day)-distinct exchange + the
  // users-bounded cohort fold; every sketch aggregate carries a fixed
  // k-long buffer per cell; the matrix stays days²-bounded.

  def retentionKmv(s: SparkSession, d: String): DataFrame =
    retentionKmvCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  /** Sketched cohort matrix from a (user_id, day) activity relation. */
  private[graft] def retentionKmvCore(userDay: DataFrame): DataFrame = {
    import graft.functions.KmvDistinct
    val ud = userDay.select("user_id", "day")
      .distinct().localCheckpoint() // user·day-bounded; 2 consumers
    val coh = withKmvHash(ud.groupBy("user_id").agg(min("day").as("c_day")))
      .localCheckpoint() // |users| rows; activity join + cohort sizes
    val act = withKmvHash(ud.join(coh.select("user_id", "c_day"), Seq("user_id")))
      .selectExpr("c_day", "day - c_day AS offset_days", "h")
      .groupBy("c_day", "offset_days")
      .agg(count(lit(1)).as("n_active"),
        KmvDistinct.kmv_distinct(col("h"), kmvK, graft.text.TextOps.P)
          .as("n_active_est"))
    val sz = coh.groupBy("c_day")
      .agg(count(lit(1)).as("cohort_n"),
        KmvDistinct.kmv_distinct(col("h"), kmvK, graft.text.TextOps.P)
          .as("cohort_n_est"))
    act.join(broadcast(sz), Seq("c_day"))
      .selectExpr("c_day AS cohort_day", "offset_days",
        "n_active", "n_active_est", "cohort_n", "cohort_n_est",
        "round(CAST(n_active AS DOUBLE) / cohort_n, 6) AS retention",
        "CASE WHEN cohort_n_est > 0 THEN round(CAST(n_active_est AS DOUBLE) / cohort_n_est, 6) END AS retention_est")
      .orderBy("cohort_day", "offset_days")
  }

  private val retentionKmvSql = {
    def cellEst(nm: String) =
      s"""CAST(CASE WHEN max(nd) < $kmvK THEN max(nd)
         |  ELSE CAST(${kmvK - 1} AS BIGINT) * 1000000007 // (max(CASE WHEN r = $kmvK THEN h END) + 1)
         |  END AS BIGINT) AS $nm""".stripMargin
    s"""WITH ud AS MATERIALIZED (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |),
       |uh AS MATERIALIZED (
       |  SELECT user_id, (h1 * h1 + 7654321) % 1000000007 AS h FROM (
       |    SELECT user_id, (h0 * h0 + 1234567) % 1000000007 AS h1 FROM (
       |      SELECT user_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(
       |          'kmv:' || CAST(user_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR),
       |          ''), c -> CAST(ord(c) AS BIGINT))),
       |        (acc, x) -> (acc * 31 + x) % 1000000007) AS h0
       |      FROM (SELECT DISTINCT user_id FROM ud)))
       |),
       |coh AS MATERIALIZED (
       |  SELECT user_id, MIN(day) AS c_day FROM ud GROUP BY 1
       |),
       |cells AS MATERIALIZED (
       |  SELECT coh.c_day, ud.day - coh.c_day AS offset_days, ud.user_id, uh.h
       |  FROM ud
       |  JOIN coh ON coh.user_id = ud.user_id
       |  JOIN uh ON uh.user_id = ud.user_id
       |),
       |cex AS (
       |  SELECT c_day, offset_days, CAST(count(*) AS BIGINT) AS n_active
       |  FROM cells GROUP BY 1, 2
       |),
       |cest AS (
       |  SELECT c_day, offset_days, ${cellEst("n_active_est")}
       |  FROM (
       |    SELECT c_day, offset_days, h,
       |      ROW_NUMBER() OVER (PARTITION BY c_day, offset_days ORDER BY h) AS r,
       |      count(*) OVER (PARTITION BY c_day, offset_days) AS nd
       |    FROM (SELECT DISTINCT c_day, offset_days, h FROM cells)
       |  ) GROUP BY 1, 2
       |),
       |szex AS (
       |  SELECT c_day, CAST(count(*) AS BIGINT) AS cohort_n FROM coh GROUP BY 1
       |),
       |szest AS (
       |  SELECT c_day, ${cellEst("cohort_n_est")}
       |  FROM (
       |    SELECT c_day, h,
       |      ROW_NUMBER() OVER (PARTITION BY c_day ORDER BY h) AS r,
       |      count(*) OVER (PARTITION BY c_day) AS nd
       |    FROM (SELECT DISTINCT coh.c_day, uh.h
       |          FROM coh JOIN uh ON uh.user_id = coh.user_id)
       |  ) GROUP BY 1
       |),
       |sz AS (
       |  SELECT szex.c_day, szex.cohort_n, szest.cohort_n_est
       |  FROM szex JOIN szest ON szest.c_day = szex.c_day
       |)
       |SELECT cex.c_day AS cohort_day, cex.offset_days AS offset_days,
       |  cex.n_active, cest.n_active_est, sz.cohort_n, sz.cohort_n_est,
       |  round(CAST(cex.n_active AS DOUBLE) / sz.cohort_n, 6) AS retention,
       |  CASE WHEN sz.cohort_n_est > 0
       |    THEN round(CAST(cest.n_active_est AS DOUBLE) / sz.cohort_n_est, 6) END AS retention_est
       |FROM cex
       |JOIN cest ON cest.c_day = cex.c_day AND cest.offset_days = cex.offset_days
       |JOIN sz ON sz.c_day = cex.c_day
       |ORDER BY cohort_day, offset_days""".stripMargin
  }

  // ---- q243: churn survival curve (Nelson–Aalen with right censoring) -------
  // The time-to-churn analysis beside retention (q219 asks "who came
  // back on day k"; survival asks "how long do users LIVE"): per user a
  // lifetime = last_day − first_day, an EVENT (churned) when the user
  // has been silent for ≥ churnDays before the observed calendar end,
  // and RIGHT-CENSORING otherwise (still alive at the end of the data —
  // dropping them would bias lifetimes down, the textbook mistake).
  // The curve is the NELSON–AALEN cumulative hazard
  //   H(t) = Σ_{t_i ≤ t} d_i / n_i
  // (d_i churn events at lifetime t_i, n_i at risk = users with
  // lifetime ≥ t_i), the SUM-form estimator: Kaplan–Meier's running
  // PRODUCT has no order-free exact representation (a fixed-point
  // product is a sequential recurrence, and exp(Σln) is not correctly
  // rounded), while NA's per-step hazard quantizes to round(1e12·d/n)
  // — one correctly-rounded division per lifetime — and the cumulative
  // sum of those integers is order-free and exact in both engines (the
  // q175 quantize-then-sum discipline). Same censoring semantics as KM.
  //
  // Scale shape: ONE data-sized exchange (the per-user first/last
  // fold); everything after is lifetimes-bounded (≤ observed days).
  // The at-risk counts come from a descending cumulative sum over the
  // lifetime relation — a days-bounded window, not a user-grain one.

  private val churnDays = 14L

  def churnSurvival(s: SparkSession, d: String): DataFrame =
    churnSurvivalCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  /** Nelson–Aalen churn table from a (user_id, day) activity relation:
    * (t, n_risk, d_churn, c_censored, hazard, cum_hazard). */
  private[graft] def churnSurvivalCore(userDay: DataFrame): DataFrame =
    churnSurvivalFromSpans(userDay.select("user_id", "day").distinct()
      .groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1")))

  /** [[churnSurvivalCore]] from the per-user (d0, d1) span relation —
    * the state grain the streaming twin maintains by MIN/MAX merge
    * (max over d1 ≡ max over all activity days, so dend is identical).
    * Shared so the twin recompute can never drift from the batch op. */
  private[graft] def churnSurvivalFromSpans(spans: DataFrame): DataFrame = {
    val users = spans
      .crossJoin(broadcast(spans.agg(max("d1").as("dend"))))
      .selectExpr("d1 - d0 AS t",
        s"CASE WHEN dend - d1 >= $churnDays THEN CAST(1 AS BIGINT) ELSE 0 END AS ev")
    val lt = users.groupBy("t")
      .agg(count(lit(1)).as("n_t"), sum("ev").as("d_churn"))
      .localCheckpoint() // lifetimes-bounded; risk window + output
    val w = graft.util.Windows.boundedGlobalWindow(
      "lifetimes-bounded: one row per observed lifetime ≤ observed days",
      col("t").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wc = graft.util.Windows.boundedGlobalWindow(
      "lifetimes-bounded: one row per observed lifetime ≤ observed days",
      col("t").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    lt
      .withColumn("n_risk", sum("n_t").over(w))
      .selectExpr("t", "n_risk", "d_churn", "n_t - d_churn AS c_censored",
        "CAST(round(1e12 * d_churn / n_risk, 0) AS BIGINT) AS hz_fp")
      .withColumn("cum_fp", sum("hz_fp").over(wc))
      .selectExpr("t", "n_risk", "d_churn", "c_censored",
        "round(CAST(hz_fp AS DOUBLE) / 1e12, 6) AS hazard",
        "round(CAST(cum_fp AS DOUBLE) / 1e12, 6) AS cum_hazard")
      .orderBy("t")
  }

  private val churnSurvivalSql =
    s"""WITH ud AS MATERIALIZED (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |),
       |dend AS (SELECT MAX(day) AS dend FROM ud),
       |usr AS MATERIALIZED (
       |  SELECT d1 - d0 AS t,
       |    CASE WHEN dend.dend - d1 >= $churnDays THEN CAST(1 AS BIGINT) ELSE 0 END AS ev
       |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM ud GROUP BY 1)
       |  CROSS JOIN dend
       |),
       |lt AS MATERIALIZED (
       |  SELECT t, CAST(count(*) AS BIGINT) AS n_t,
       |    CAST(SUM(ev) AS BIGINT) AS d_churn
       |  FROM usr GROUP BY 1
       |),
       |rk AS (
       |  SELECT t, n_t, d_churn,
       |    CAST(SUM(n_t) OVER (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
       |  FROM lt
       |),
       |hz AS (
       |  SELECT t, n_risk, d_churn, n_t - d_churn AS c_censored,
       |    CAST(round(1e12 * d_churn / n_risk, 0) AS BIGINT) AS hz_fp
       |  FROM rk
       |)
       |SELECT t, n_risk, d_churn, c_censored,
       |  round(CAST(hz_fp AS DOUBLE) / 1e12, 6) AS hazard,
       |  round(CAST(SUM(hz_fp) OVER (ORDER BY t ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e12, 6) AS cum_hazard
       |FROM hz
       |ORDER BY t""".stripMargin

  // ---- q244: user-journey transition matrix (first-order Markov) ------------
  // The flow analysis behind every journey/Sankey view: per ordered
  // pair of event types, how often does one IMMEDIATELY follow the
  // other within a user's session (the q52 sessionization gap: a > 30
  // min silence breaks the chain — cross-session transitions are not
  // journeys), plus the row-normalized transition probability. Event
  // order within a user is the exact (us, event_id) total order (the
  // q17 as-of discipline: timestamps tie, ids never do). Counts exact;
  // ONE division per cell; the |types|² grid is emitted dense with
  // explicit zeros so the matrix shape is stable across SFs.
  //
  // Scale shape: ONE data-sized exchange (the per-user sort for lead()
  // — the window partitions by user_id, no global window); the grid is
  // |types|²-bounded. At 10⁸ users the per-user window is the same
  // co-partitioned shape as q52's sessionizer.

  private val journeyGapUs = 1800000000L // 30 min, the q52 session gap

  def journeyTransitions(s: SparkSession, d: String): DataFrame =
    journeyTransitionsCore(events(s, d)
      .selectExpr("user_id", "event_type", "event_id",
        "CAST(ts div 1000 AS BIGINT) AS us"))

  /** Transition grid from (user_id, event_type, event_id, us). */
  private[graft] def journeyTransitionsCore(ev0: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val steps = ev0.select("user_id", "event_type", "event_id", "us")
      .withColumn("to_type", lead("event_type", 1).over(w))
      .withColumn("to_us", lead("us", 1).over(w))
      .filter(col("to_type").isNotNull &&
        col("to_us") - col("us") <= journeyGapUs)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // |types|²-bounded; grid fill + row totals
    val types = steps.selectExpr("from_type AS t")
      .unionByName(steps.selectExpr("to_type AS t")).distinct()
      .localCheckpoint()
    val grid = types.selectExpr("t AS from_type")
      .crossJoin(types.selectExpr("t AS to_type"))
    val tot = steps.groupBy("from_type").agg(sum("n").as("n_out"))
    grid
      .join(steps, Seq("from_type", "to_type"), "left")
      .na.fill(0L, Seq("n"))
      .join(broadcast(tot), Seq("from_type"), "left")
      .selectExpr("from_type", "to_type", "n",
        "CASE WHEN n_out > 0 THEN round(CAST(n AS DOUBLE) / n_out, 6) END AS p")
      .orderBy("from_type", "to_type")
  }

  private val journeyTransitionsSql =
    s"""WITH st AS MATERIALIZED (
       |  SELECT event_type AS from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM (
       |    SELECT user_id, event_type, epoch_us(ts) AS us,
       |      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type,
       |      LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_us
       |    FROM events
       |  )
       |  WHERE to_type IS NOT NULL AND to_us - us <= $journeyGapUs
       |  GROUP BY 1, 2
       |),
       |ty AS MATERIALIZED (SELECT DISTINCT t FROM (
       |  SELECT from_type AS t FROM st UNION ALL SELECT to_type AS t FROM st)),
       |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out FROM st GROUP BY 1)
       |SELECT a.t AS from_type, b.t AS to_type, COALESCE(st.n, 0) AS n,
       |  CASE WHEN tot.n_out > 0
       |    THEN round(CAST(COALESCE(st.n, 0) AS DOUBLE) / tot.n_out, 6) END AS p
       |FROM ty a
       |CROSS JOIN ty b
       |LEFT JOIN st ON st.from_type = a.t AND st.to_type = b.t
       |LEFT JOIN tot ON tot.from_type = a.t
       |ORDER BY from_type, to_type""".stripMargin

  // ---- q238: A/B experiment analysis (two-proportion z / lift + CI) ---------
  // The controlled-comparison primitive the event panel lacked (the r18
  // verdict's #1 extension gap — the most common product-analytics ask
  // after funnels): per experiment, the control/treatment conversion
  // 2×2 table, absolute and relative lift, the POOLED two-proportion z
  //   z = (p_t − p_c) / sqrt( p̂(1−p̂)·(1/n_c + 1/n_t) ),  p̂ pooled,
  // the Wald 95% CI on the difference (unpooled SE — the standard
  // pairing: pooled SE under H₀ for the test, unpooled for the
  // interval), and the |z| > 1.96 significance flag — q222's
  // one-proportion kernel generalized to two samples. All counts are
  // exact integers; every double is an identical expression tree in
  // both engines over those integers (the q222 discipline), rounded to
  // 6 dp, and the flag derives from the ROUNDED z so it can never
  // contradict the column at the display boundary.
  //
  // Arm assignment is a deterministic per-experiment hash of the user
  // id (prod: the bucketing the experiment platform logged; here it is
  // SYNTHESIZED, which also makes the driver check an A/A test — the
  // arms split one population, so true lift is 0 and z should sit
  // near 0): h₀ = (31·u + (e+1)·1000003) mod P, one Pollard-rho round
  // h₀²+1234567 mod P (the q224 mixing lesson — parity of a linear map
  // is structured; parity after squaring mod odd P is not), arm = h mod
  // 2. Everything non-negative, so Spark % ≡ DuckDB % with no pmod
  // asymmetry; h₀ < P ⇒ h₀² < 2⁶⁰ (int64 through user_id ≈ 10⁹).
  //
  // Scale shape: ONE data-sized exchange (the per-user conversion
  // aggregate, map-side partial); the |users|×E assignment expansion
  // feeds a (E·2)-cell aggregate — broadcast-class everything after.

  private val abExps = 4
  private val abArmStr =
    s"(((user_id * 31 + (experiment + 1) * 1000003) % ${graft.text.TextOps.P})" +
      s" * ((user_id * 31 + (experiment + 1) * 1000003) % ${graft.text.TextOps.P})" +
      s" + 1234567) % ${graft.text.TextOps.P} % 2"
  private val abPC = "(CAST(x_c AS DOUBLE) / n_c)"
  private val abPT = "(CAST(x_t AS DOUBLE) / n_t)"
  private val abPP = "(CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))"
  private val abZStr =
    s"CASE WHEN n_c > 0 AND n_t > 0 AND x_c + x_t > 0 AND x_c + x_t < n_c + n_t " +
      s"THEN ($abPT - $abPC) / sqrt($abPP * (1 - $abPP) * " +
      s"(CAST(1 AS DOUBLE) / n_c + CAST(1 AS DOUBLE) / n_t)) END"
  private val abSeStr =
    s"sqrt($abPC * (1 - $abPC) / n_c + $abPT * (1 - $abPT) / n_t)"

  def abTest(s: SparkSession, d: String): DataFrame = {
    // conversion = a big-ticket purchase (value > 200): plain "any
    // purchase" converts EVERY fixture user (p̂ = 1 degenerates z);
    // the 200-cent cut converts ~21% at both SFs (measured) so the
    // z / CI / lift columns are all live.
    abTestFromUsers(events(s, d).groupBy("user_id")
      .agg(max(expr(convExprStr)).as("conv")))
  }

  /** The q238 conversion predicate as an expression string — shared
    * with the streaming twin's per-batch partial so the two can never
    * disagree on what converts. */
  private[graft] val convExprStr =
    "CASE WHEN event_type = 'purchase' AND value > 200 THEN CAST(1 AS BIGINT) ELSE 0 END"

  /** Experiment panel from the per-user (user_id, conv) relation — the
    * state grain the streaming twin maintains by MAX merge. Shared so
    * the twin recompute can never drift from the batch op. */
  private[graft] def abTestFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    val exps = s.range(abExps).select(col("id").as("experiment"))
    abTestCore(users.crossJoin(broadcast(exps))
      .selectExpr("experiment", s"$abArmStr AS arm", "conv"))
  }

  /** Experiment panel from an (experiment, arm, conv∈{0,1}) per-user
    * assignment relation — split out so specs can plant 2×2 tables. */
  private[graft] def abTestCore(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("experiment")
      .agg(
        sum(expr("CASE WHEN arm = 0 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("n_c"),
        sum(expr("CASE WHEN arm = 0 THEN conv ELSE 0 END")).as("x_c"),
        sum(expr("CASE WHEN arm = 1 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("n_t"),
        sum(expr("CASE WHEN arm = 1 THEN conv ELSE 0 END")).as("x_t"))
      .selectExpr("experiment", "n_c", "x_c", "n_t", "x_t",
        s"CASE WHEN n_c > 0 THEN round($abPC, 6) END AS p_c",
        s"CASE WHEN n_t > 0 THEN round($abPT, 6) END AS p_t",
        s"CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC, 6) END AS lift_abs",
        s"CASE WHEN x_c > 0 AND n_t > 0 THEN round(($abPT - $abPC) / $abPC, 6) END AS lift_rel",
        s"round($abZStr, 6) AS z",
        s"CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC - 1.96 * $abSeStr, 6) END AS ci_lo",
        s"CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC + 1.96 * $abSeStr, 6) END AS ci_hi",
        s"COALESCE(abs(round($abZStr, 6)) > CAST(1.96 AS DOUBLE), false) AS significant")
      .orderBy("experiment")

  private val abTestSql =
    s"""WITH u AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS conv
       |  FROM events GROUP BY 1
       |),
       |asg AS MATERIALIZED (
       |  SELECT e.experiment, $abArmStr AS arm, u.conv
       |  FROM u CROSS JOIN (
       |    SELECT CAST(g AS BIGINT) AS experiment
       |    FROM generate_series(0, ${abExps - 1}) gs(g)) e
       |),
       |cells AS MATERIALIZED (
       |  SELECT experiment,
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_c,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_t
       |  FROM asg GROUP BY 1
       |)
       |SELECT experiment, n_c, x_c, n_t, x_t,
       |  CASE WHEN n_c > 0 THEN round($abPC, 6) END AS p_c,
       |  CASE WHEN n_t > 0 THEN round($abPT, 6) END AS p_t,
       |  CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC, 6) END AS lift_abs,
       |  CASE WHEN x_c > 0 AND n_t > 0 THEN round(($abPT - $abPC) / $abPC, 6) END AS lift_rel,
       |  round($abZStr, 6) AS z,
       |  CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC - 1.96 * $abSeStr, 6) END AS ci_lo,
       |  CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC + 1.96 * $abSeStr, 6) END AS ci_hi,
       |  COALESCE(abs(round($abZStr, 6)) > CAST(1.96 AS DOUBLE), false) AS significant
       |FROM cells
       |ORDER BY experiment""".stripMargin

  // ---- q245: multi-arm experiment analysis (E×k cells + chi-square) ---------
  // q238 generalized from 2 arms to k (the r19 verdict's #2 extension
  // gap — real experiment platforms run k variants): per experiment the
  // k-cell conversion table, the OVERALL chi-square independence test
  // on the 2×k (converted × arm) contingency table
  //   χ² = Σ_cells (O − E)² / E,  E = row_tot · col_tot / N,
  // and the per-arm-vs-control pooled two-proportion z (the q238
  // kernel, control = arm 0). Exactness discipline: counts are exact
  // integers; each ARM's χ² contribution is one deterministic double
  // expression over those integers, QUANTIZED to round(1e12·c) and
  // summed as BIGINT across arms (the q175 quantize-then-sum rule —
  // a k-term double sum has engine-dependent order, an integer sum
  // does not; 1e12·χ² ≤ 1e12·N < 2⁶³ through N ≈ 10⁹ users·exps).
  // The p-value: df = k−1 = 2, and the χ² survival function for even
  // df has the CLOSED FORM exp(−x/2)·Σ_{i<df/2}(x/2)^i/i! = exp(−x/2)
  // at df 2 — one exp() over an identical double in both engines, so
  // the p-value is hash-checkable where a regularized-gamma native
  // expression would have forced a rows-only check (the q32 class).
  // Output grain: one row per (experiment, arm) with the experiment-
  // level χ²/p repeated — the standard analytics table shape.
  //
  // Scale shape: ONE data-sized exchange (the per-user conv partial,
  // shared with q238); the |users|×E assignment expansion feeds an
  // (E·k)-cell aggregate — broadcast-class everything after.

  private val maArms = 3
  private val maArmStr =
    s"(((user_id * 31 + (experiment + 1) * 1000003) % ${graft.text.TextOps.P})" +
      s" * ((user_id * 31 + (experiment + 1) * 1000003) % ${graft.text.TextOps.P})" +
      s" + 1234567) % ${graft.text.TextOps.P} % $maArms"
  // per-arm χ² contribution over exact integers (x, n, X, N):
  // conv cell (x − n·X/N)²/(n·X/N) + non-conv cell ((n−x) − n·(N−X)/N)²/(n·(N−X)/N)
  private val maChiStr =
    "CASE WHEN x_all > 0 AND x_all < n_all THEN " +
      "(x - CAST(n AS DOUBLE) * x_all / n_all) * (x - CAST(n AS DOUBLE) * x_all / n_all) / (CAST(n AS DOUBLE) * x_all / n_all) + " +
      "((n - x) - CAST(n AS DOUBLE) * (n_all - x_all) / n_all) * ((n - x) - CAST(n AS DOUBLE) * (n_all - x_all) / n_all) / (CAST(n AS DOUBLE) * (n_all - x_all) / n_all) " +
      "ELSE CAST(0 AS DOUBLE) END"
  private val maPC0 = "(CAST(x0 AS DOUBLE) / n0)"
  private val maPA = "(CAST(x AS DOUBLE) / n)"
  private val maPP = "(CAST(x0 + x AS DOUBLE) / (n0 + n))"
  private val maZStr =
    s"CASE WHEN arm > 0 AND n0 > 0 AND n > 0 AND x0 + x > 0 AND x0 + x < n0 + n " +
      s"THEN ($maPA - $maPC0) / sqrt($maPP * (1 - $maPP) * " +
      s"(CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n)) END"

  def abMultiArm(s: SparkSession, d: String): DataFrame =
    abMultiArmFromUsers(events(s, d).groupBy("user_id")
      .agg(max(expr(convExprStr)).as("conv")))

  /** q245 panel from the per-user (user_id, conv) relation — the SAME
    * state grain as [[abTestFromUsers]], so the streaming twin shares
    * q238's MAX-merged conversion store. */
  private[graft] def abMultiArmFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    abMultiArmCore(users
      .crossJoin(broadcast(
        s.range(abExps).select(col("id").as("experiment"))))
      .selectExpr("experiment", s"$maArmStr AS arm", "conv"))
  }

  /** Panel from an (experiment, arm ∈ [0,k), conv ∈ {0,1}) per-user
    * assignment relation — split out so specs can plant k-cell tables. */
  private[graft] def abMultiArmCore(assigned: DataFrame): DataFrame = {
    val cells = assigned.groupBy("experiment", "arm")
      .agg(count(lit(1)).as("n"), sum("conv").as("x"))
    val tot = cells.groupBy("experiment")
      .agg(sum("n").as("n_all"), sum("x").as("x_all"))
    val withTot = cells.join(broadcast(tot), Seq("experiment"))
      .selectExpr("experiment", "arm", "n", "x", "n_all", "x_all",
        s"CAST(round(1e12 * ($maChiStr), 0) AS BIGINT) AS chi_fp")
    val chi = withTot.groupBy("experiment")
      .agg(sum("chi_fp").as("chi2_fp"))
    val ctrl = cells.filter(col("arm") === 0)
      .selectExpr("experiment", "n AS n0", "x AS x0")
    withTot
      .join(broadcast(ctrl), Seq("experiment"), "left")
      .join(broadcast(chi), Seq("experiment"))
      .selectExpr("experiment", "arm", "n", "x",
        "CASE WHEN n > 0 THEN round(CAST(x AS DOUBLE) / n, 6) END AS p",
        s"round($maZStr, 6) AS z_vs_ctrl",
        "round(CAST(chi2_fp AS DOUBLE) / 1e12, 6) AS chi2",
        // df = k−1 = 2: χ² survival = exp(−x/2), exact closed form
        "round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) AS chi2_p",
        "round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) < CAST(0.05 AS DOUBLE) AS significant")
      .orderBy("experiment", "arm")
  }

  private val abMultiArmSql =
    s"""WITH u AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS conv
       |  FROM events GROUP BY 1
       |),
       |asg AS MATERIALIZED (
       |  SELECT e.experiment, $maArmStr AS arm, u.conv
       |  FROM u CROSS JOIN (
       |    SELECT CAST(g AS BIGINT) AS experiment
       |    FROM generate_series(0, ${abExps - 1}) gs(g)) e
       |),
       |cells AS MATERIALIZED (
       |  SELECT experiment, arm, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(conv) AS BIGINT) AS x
       |  FROM asg GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT experiment, CAST(SUM(n) AS BIGINT) AS n_all, CAST(SUM(x) AS BIGINT) AS x_all
       |  FROM cells GROUP BY 1
       |),
       |wt AS MATERIALIZED (
       |  SELECT cells.experiment, arm, n, x, n_all, x_all,
       |    CAST(round(1e12 * ($maChiStr), 0) AS BIGINT) AS chi_fp
       |  FROM cells JOIN tot ON cells.experiment = tot.experiment
       |),
       |chi AS (SELECT experiment, CAST(SUM(chi_fp) AS BIGINT) AS chi2_fp FROM wt GROUP BY 1),
       |ctrl AS (SELECT experiment, n AS n0, x AS x0 FROM cells WHERE arm = 0)
       |SELECT wt.experiment, arm, n, x,
       |  CASE WHEN n > 0 THEN round(CAST(x AS DOUBLE) / n, 6) END AS p,
       |  round($maZStr, 6) AS z_vs_ctrl,
       |  round(CAST(chi2_fp AS DOUBLE) / 1e12, 6) AS chi2,
       |  round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) AS chi2_p,
       |  round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) < CAST(0.05 AS DOUBLE) AS significant
       |FROM wt
       |LEFT JOIN ctrl ON ctrl.experiment = wt.experiment
       |JOIN chi ON chi.experiment = wt.experiment
       |ORDER BY wt.experiment, arm""".stripMargin

  // ---- q246: log-rank test (two-segment survival comparison) ----------------
  // The first question asked of a q243 survival curve: does segment A
  // churn faster than B? The log-rank (Mantel–Cox) test compares
  // OBSERVED vs EXPECTED churn events per lifetime step under H₀ "same
  // hazard": at each step t with d_t = d_a + d_b events and
  // n_t = n_a + n_b at risk,
  //   E_a(t) = d_t · n_a / n_t,
  //   V(t)   = d_t · (n_a/n_t)(n_b/n_t)(n_t − d_t)/(n_t − 1)   (hypergeometric),
  //   Z = (O_a − ΣE_a) / sqrt(ΣV)  ~  N(0,1).
  // Exactness: O/d/n are exact integers; each step's E and V are one
  // deterministic double expression over those integers, QUANTIZED to
  // round(1e12··) and summed as BIGINT (the q243 quantize-then-sum
  // discipline — the cross-step sum order never touches a double).
  // Censoring semantics are exactly q243's (churnDays silence before
  // the shared calendar end = event; otherwise censored; dend is
  // GLOBAL across both segments — each segment on its own dend would
  // shift censoring and bias the comparison). Segment = user_id % 2
  // (deterministic, identical in both engines over non-negative ids;
  // prod: any user attribute).
  //
  // Scale shape: ONE data-sized exchange (the per-user span fold,
  // shared shape with q243); steps are lifetimes-bounded; the at-risk
  // counts ride the same bounded descending-cumulative window.

  private val lrSegStr = "user_id % 2"

  def logRank(s: SparkSession, d: String): DataFrame =
    logRankCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  /** Log-rank summary row from a (user_id, day) activity relation:
    * (users_a, users_b, o_a, e_a, o_b, e_b, var_lr, z, significant). */
  private[graft] def logRankCore(userDay: DataFrame): DataFrame =
    logRankFromSpans(userDay.select("user_id", "day").distinct()
      .groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1")))

  /** [[logRankCore]] from the per-user (user_id, d0, d1) span relation —
    * the SAME state grain as [[churnSurvivalFromSpans]], so the
    * streaming twin shares q243's MIN/MAX-merged span store (segment
    * derives from user_id, which the spans carry). */
  private[graft] def logRankFromSpans(spans: DataFrame): DataFrame = {
    val zStr = "CASE WHEN v_fp > 0 THEN " +
      "(CAST(o_a AS DOUBLE) - CAST(ea_fp AS DOUBLE) / 1e12) / sqrt(CAST(v_fp AS DOUBLE) / 1e12) END"
    lrFold(spans)
      .selectExpr("users_a", "users_b", "o_a",
        "round(CAST(ea_fp AS DOUBLE) / 1e12, 6) AS e_a",
        "o_b",
        "round(CAST(o_a + o_b AS DOUBLE) - CAST(ea_fp AS DOUBLE) / 1e12, 6) AS e_b",
        "round(CAST(v_fp AS DOUBLE) / 1e12, 6) AS var_lr",
        s"round($zStr, 6) AS z",
        s"COALESCE(abs(round($zStr, 6)) > CAST(1.96 AS DOUBLE), false) AS significant")
  }

  /** The shared q246/q252 fold: two-segment O/E/V over the lifetime
    * steps, ONE row (users_a, users_b, o_a, o_b, ea_fp, v_fp) with the
    * expected-events and hypergeometric-variance sums at 1e-12 fixed
    * point (quantize-then-sum; magnitude window ea_fp ≤ 1e12·users —
    * int64-safe through ~10⁶ churned users, the q246 grain; production
    * beyond that widens these sums to DECIMAL(38,0) the q234 way).
    * `churnW` = the churn silence window in days (q246 reads the
    * product-standard [[churnDays]]; q252 reads [[hrChurnDays]]). */
  private[graft] def lrFold(spans: DataFrame, churnW: Long = churnDays): DataFrame = {
    val users = spans
      .crossJoin(broadcast(spans.agg(max("d1").as("dend"))))
      .selectExpr(s"$lrSegStr AS seg", "d1 - d0 AS t",
        s"CASE WHEN dend - d1 >= $churnW THEN CAST(1 AS BIGINT) ELSE 0 END AS ev")
    val lt = users.groupBy("t").agg(
      sum(expr("CASE WHEN seg = 0 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("m_a"),
      sum(expr("CASE WHEN seg = 0 THEN ev ELSE 0 END")).as("d_a"),
      sum(expr("CASE WHEN seg = 1 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("m_b"),
      sum(expr("CASE WHEN seg = 1 THEN ev ELSE 0 END")).as("d_b"))
      .localCheckpoint() // lifetimes-bounded; at-risk window + totals
    val w = graft.util.Windows.boundedGlobalWindow(
      "lifetimes-bounded: one row per observed lifetime ≤ observed days",
      col("t").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val steps = lt
      .withColumn("n_a", sum("m_a").over(w))
      .withColumn("n_b", sum("m_b").over(w))
      .selectExpr("d_a", "d_b", "n_a", "n_b",
        "d_a + d_b AS dd", "n_a + n_b AS nn")
      .filter(col("dd") > 0 && col("nn") > 1)
      .selectExpr("d_a", "d_b",
        "CAST(round(1e12 * (CAST(dd AS DOUBLE) * n_a / nn), 0) AS BIGINT) AS ea_fp",
        "CAST(round(1e12 * (CAST(dd AS DOUBLE) * n_a / nn * n_b / nn * (nn - dd) / (nn - 1)), 0) AS BIGINT) AS v_fp")
    val segn = users.groupBy().agg(
      sum(expr("CASE WHEN seg = 0 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("users_a"),
      sum(expr("CASE WHEN seg = 1 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("users_b"))
    steps
      .agg(sum("d_a").as("o_a"), sum("d_b").as("o_b"),
        sum("ea_fp").as("ea_fp"), sum("v_fp").as("v_fp"))
      .crossJoin(broadcast(segn))
  }

  /** The q246/q252 shared oracle fold — DuckDB mirror of [[lrFold]],
    * parameterized on the same churn window. */
  private def lrFoldCtes(w: Long): String =
    s"""ud AS MATERIALIZED (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |),
       |spans AS MATERIALIZED (
       |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM ud GROUP BY 1
       |),
       |dend AS (SELECT MAX(d1) AS dend FROM spans),
       |usr AS MATERIALIZED (
       |  SELECT $lrSegStr AS seg, d1 - d0 AS t,
       |    CASE WHEN dend.dend - d1 >= $w THEN CAST(1 AS BIGINT) ELSE 0 END AS ev
       |  FROM spans CROSS JOIN dend
       |),
       |lt AS MATERIALIZED (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m_a,
       |    CAST(SUM(CASE WHEN seg = 0 THEN ev ELSE 0 END) AS BIGINT) AS d_a,
       |    CAST(SUM(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m_b,
       |    CAST(SUM(CASE WHEN seg = 1 THEN ev ELSE 0 END) AS BIGINT) AS d_b
       |  FROM usr GROUP BY 1
       |),
       |steps AS MATERIALIZED (
       |  SELECT d_a, d_b,
       |    CAST(round(1e12 * (CAST(dd AS DOUBLE) * n_a / nn), 0) AS BIGINT) AS ea_fp,
       |    CAST(round(1e12 * (CAST(dd AS DOUBLE) * n_a / nn * n_b / nn * (nn - dd) / (nn - 1)), 0) AS BIGINT) AS v_fp
       |  FROM (
       |    SELECT d_a, d_b, n_a, n_b, d_a + d_b AS dd, n_a + n_b AS nn
       |    FROM (
       |      SELECT d_a, d_b,
       |        CAST(SUM(m_a) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_a,
       |        CAST(SUM(m_b) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_b
       |      FROM lt
       |    )
       |  )
       |  WHERE dd > 0 AND nn > 1
       |),
       |segn AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_a,
       |    CAST(SUM(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS users_b
       |  FROM usr
       |),
       |agg AS (
       |  SELECT CAST(SUM(d_a) AS BIGINT) AS o_a, CAST(SUM(d_b) AS BIGINT) AS o_b,
       |    CAST(SUM(ea_fp) AS BIGINT) AS ea_fp, CAST(SUM(v_fp) AS BIGINT) AS v_fp
       |  FROM steps
       |)""".stripMargin

  private val logRankSql =
    s"""WITH ${lrFoldCtes(churnDays)}
       |SELECT users_a, users_b, o_a,
       |  round(CAST(ea_fp AS DOUBLE) / 1e12, 6) AS e_a,
       |  o_b,
       |  round(CAST(o_a + o_b AS DOUBLE) - CAST(ea_fp AS DOUBLE) / 1e12, 6) AS e_b,
       |  round(CAST(v_fp AS DOUBLE) / 1e12, 6) AS var_lr,
       |  round(CASE WHEN v_fp > 0 THEN (CAST(o_a AS DOUBLE) - CAST(ea_fp AS DOUBLE) / 1e12) / sqrt(CAST(v_fp AS DOUBLE) / 1e12) END, 6) AS z,
       |  COALESCE(abs(round(CASE WHEN v_fp > 0 THEN (CAST(o_a AS DOUBLE) - CAST(ea_fp AS DOUBLE) / 1e12) / sqrt(CAST(v_fp AS DOUBLE) / 1e12) END, 6)) > CAST(1.96 AS DOUBLE), false) AS significant
       |FROM agg CROSS JOIN segn""".stripMargin

  // ---- q252: hazard ratio between churn segments (q246's effect size) -------
  // q246 answers "DO the segments churn differently" (a p-value); the
  // follow-up every survival readout needs is "by HOW MUCH" — the
  // hazard ratio. The O/E estimator (Collett, *Modelling Survival
  // Data*, §2.6.4 — the one-step approximation to the Cox MLE):
  //   HR = (O_a/E_a) / (O_b/E_b),
  //   se(ln HR) = sqrt(1/E_a + 1/E_b),
  //   95% CI = exp( ln HR ± 1.96·se ),
  // significant iff the CI excludes 1. E_a rides q246's exact
  // quantize-then-sum fixed point (the SHARED [[lrFold]] kernel — the
  // two queries can never disagree on O/E), E_b = (O_a + O_b) − E_a by
  // the same-steps identity, and every reported double is one
  // deterministic expression over the int64 fp sums (BIGINT→DOUBLE is
  // correctly rounded in both engines — the q246 precedent; ln/exp ride
  // the q245 closed-form-exp precedent). Flags derive from the ROUNDED
  // CI bounds (display-boundary rule). Degenerate folds (either
  // segment with zero observed or zero expected events) yield NULL
  // HR/CI and a false flag.
  //
  // The churn WINDOW: the fixture's users are heavy-traffic (end-gap
  // ≤ 2 days at every SF), so q243/q246's product-standard 14-day
  // window yields ZERO churn events there — q246's z is honestly
  // NULL-degenerate on this data (both engines agree), but an
  // all-NULL hazard RATIO would make q252 a dead panel. The estimator
  // is window-agnostic, so q252 reads the EARLY-CHURN window (1 day of
  // silence — the "didn't come back tomorrow" product question), which
  // the fixture populates at every SF; the 14-day shape is pinned by
  // the planted-calendar spec through the shared [[lrFold]] kernel.
  //
  // Scale shape: identical to q246 — ONE data-sized exchange (the
  // per-user span fold, shared store with q243/q246's twins), then
  // lifetimes-bounded steps and a one-row output.

  private val hrChurnDays = 1L
  private val hrEbFp = "((o_a + o_b) * 1000000000000 - ea_fp)"
  private val hrStr =
    s"CASE WHEN o_a > 0 AND o_b > 0 AND ea_fp > 0 AND $hrEbFp > 0 THEN " +
      s"(CAST(o_a AS DOUBLE) / (CAST(ea_fp AS DOUBLE) / 1e12)) / " +
      s"(CAST(o_b AS DOUBLE) / (CAST($hrEbFp AS DOUBLE) / 1e12)) END"
  private val hrSeStr =
    s"sqrt(1e12 / CAST(ea_fp AS DOUBLE) + 1e12 / CAST($hrEbFp AS DOUBLE))"
  private val hrCiLo = s"exp(ln($hrStr) - 1.96 * $hrSeStr)"
  private val hrCiHi = s"exp(ln($hrStr) + 1.96 * $hrSeStr)"

  def hazardRatio(s: SparkSession, d: String): DataFrame =
    hazardRatioCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  /** Hazard-ratio summary row from a (user_id, day) activity relation:
    * (users_a, users_b, o_a, e_a, o_b, e_b, hr, ci_lo, ci_hi,
    * significant). */
  private[graft] def hazardRatioCore(userDay: DataFrame): DataFrame =
    hazardRatioFromSpans(userDay.select("user_id", "day").distinct()
      .groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1")))

  /** [[hazardRatioCore]] from the per-user span relation — the SAME
    * state grain as [[churnSurvivalFromSpans]]/[[logRankFromSpans]],
    * so the streaming twin shares q243/q246's span store. */
  private[graft] def hazardRatioFromSpans(spans: DataFrame,
      w: Long = hrChurnDays): DataFrame =
    lrFold(spans, w).selectExpr("users_a", "users_b", "o_a",
      "round(CAST(ea_fp AS DOUBLE) / 1e12, 6) AS e_a",
      "o_b",
      s"round(CAST($hrEbFp AS DOUBLE) / 1e12, 6) AS e_b",
      s"round($hrStr, 6) AS hr",
      s"round($hrCiLo, 6) AS ci_lo",
      s"round($hrCiHi, 6) AS ci_hi",
      s"COALESCE(round($hrCiLo, 6) > CAST(1 AS DOUBLE) " +
        s"OR round($hrCiHi, 6) < CAST(1 AS DOUBLE), false) AS significant")

  private def hazardRatioSql =
    s"""WITH ${lrFoldCtes(hrChurnDays)}
       |SELECT users_a, users_b, o_a,
       |  round(CAST(ea_fp AS DOUBLE) / 1e12, 6) AS e_a,
       |  o_b,
       |  round(CAST($hrEbFp AS DOUBLE) / 1e12, 6) AS e_b,
       |  round($hrStr, 6) AS hr,
       |  round($hrCiLo, 6) AS ci_lo,
       |  round($hrCiHi, 6) AS ci_hi,
       |  COALESCE(round($hrCiLo, 6) > CAST(1 AS DOUBLE)
       |    OR round($hrCiHi, 6) < CAST(1 AS DOUBLE), false) AS significant
       |FROM agg CROSS JOIN segn""".stripMargin

  // ---- q248: top-k converting journeys (q244's Sankey drill-down) ------------
  // q244 counts pairwise transitions; the drill-down every funnel view
  // needs is the full PATH: for each conversion event, the bounded
  // k-gram of event types leading INTO it within the same session
  // (the q52 30-min gap — cross-session history is not a journey),
  // counted exactly and served as the top-K per gram LENGTH. One row
  // per (g, path): a 2-gram is the immediate referrer, a 4-gram the
  // 3-step approach — separate lengths because a shorter gram is a
  // MARGINAL of the longer ones, not a competitor. Order within a user
  // is the exact (us, event_id) total order (the q17 discipline);
  // ranking is the exact (n DESC, path ASC) total order, served by the
  // TopKPerKey plan (§2.11 — the row_number ≤ k pattern rewrites to
  // the heap-only partial/final exec, no full sort of the path
  // distribution).
  //
  // Scale shape: ONE data-sized exchange (the per-user window;
  // HashPartitioning(user_id) also satisfies the per-(user, session)
  // lag window, so sessionize + lags share it); the gram relation is
  // conversions-sized, its count one partial-agg exchange, and the
  // top-K is heap-pruned map-side by TopKPerKeyExec instead of a
  // global sort.

  private val jkTopK = 10

  def topJourneys(s: SparkSession, d: String): DataFrame =
    topJourneysCore(events(s, d)
      .selectExpr("user_id", "event_type", "event_id",
        "CAST(ts div 1000 AS BIGINT) AS us"))

  /** Top converting paths from (user_id, event_type, event_id, us). */
  private[graft] def topJourneysCore(ev0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLag = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wRun = wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = ev0.select("user_id", "event_type", "event_id", "us")
      .withColumn("prev_us", lag("us", 1).over(wLag))
      .withColumn("brk", expr(
        s"CASE WHEN prev_us IS NULL OR us - prev_us > $journeyGapUs THEN 1 ELSE 0 END"))
      .withColumn("sid", sum("brk").over(wRun))
    val wS = Window.partitionBy("user_id", "sid").orderBy(col("us"), col("event_id"))
    val conv = sess
      .withColumn("l1", lag("event_type", 1).over(wS))
      .withColumn("l2", lag("event_type", 2).over(wS))
      .withColumn("l3", lag("event_type", 3).over(wS))
      .filter(col("event_type") === "purchase")
      .localCheckpoint() // conversions-sized; three gram lengths read it
    val grams = conv.filter(col("l1").isNotNull)
      .selectExpr("CAST(2 AS INT) AS g", "l1 || '>' || event_type AS path")
      .unionByName(conv.filter(col("l2").isNotNull)
        .selectExpr("CAST(3 AS INT) AS g",
          "l2 || '>' || l1 || '>' || event_type AS path"))
      .unionByName(conv.filter(col("l3").isNotNull)
        .selectExpr("CAST(4 AS INT) AS g",
          "l3 || '>' || l2 || '>' || l1 || '>' || event_type AS path"))
    grams.groupBy("g", "path").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("g").orderBy(col("n").desc, col("path").asc)))
      .filter(col("rank") <= jkTopK)
      .orderBy("g", "rank")
  }

  private val topJourneysSql =
    s"""WITH e AS MATERIALIZED (
       |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
       |),
       |brks AS (
       |  SELECT user_id, event_type, event_id, us,
       |    CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > $journeyGapUs
       |      THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |),
       |sess AS MATERIALIZED (
       |  SELECT user_id, event_type, event_id, us,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM brks
       |),
       |lagged AS MATERIALIZED (
       |  SELECT event_type,
       |    LAG(event_type, 1) OVER w AS l1,
       |    LAG(event_type, 2) OVER w AS l2,
       |    LAG(event_type, 3) OVER w AS l3
       |  FROM sess WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id)
       |),
       |conv AS MATERIALIZED (SELECT * FROM lagged WHERE event_type = 'purchase'),
       |grams AS MATERIALIZED (
       |  SELECT CAST(2 AS INTEGER) AS g, l1 || '>' || event_type AS path
       |  FROM conv WHERE l1 IS NOT NULL
       |  UNION ALL
       |  SELECT CAST(3 AS INTEGER), l2 || '>' || l1 || '>' || event_type
       |  FROM conv WHERE l2 IS NOT NULL
       |  UNION ALL
       |  SELECT CAST(4 AS INTEGER), l3 || '>' || l2 || '>' || l1 || '>' || event_type
       |  FROM conv WHERE l3 IS NOT NULL
       |),
       |cnt AS MATERIALIZED (
       |  SELECT g, path, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY 1, 2
       |)
       |SELECT g, path, n, rank FROM (
       |  SELECT g, path, n,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY n DESC, path ASC) AS INTEGER) AS rank
       |  FROM cnt
       |) WHERE rank <= $jkTopK
       |ORDER BY g, rank""".stripMargin

  // ---- q251: second-order journey transitions (2-step Markov) ---------------
  // q244's first-order matrix assumes the next step depends only on the
  // current one; the standard next question (and the r19 verdict's
  // "higher-order journeys" direction) is the SECOND-ORDER model: per
  // in-session (prev2, prev1) CONTEXT, where do users go next, with the
  // context-normalized probability — the relation a Sankey's two-step
  // drill-down and a journey-prediction baseline both read. Sessions
  // and ordering are exactly q248's (30-min gap breaks the chain; the
  // (us, event_id) total order breaks ties), so a triple never spans
  // sessions by construction — both lags live inside the session
  // window. Output is the SPARSE observed-context relation (a dense
  // |types|³ grid triples storage for zero analytic value — the q244
  // dense-grid argument inverts at order 2 because contexts, not
  // types, are the row key). Counts exact; ONE division per row.
  //
  // Scale shape: ONE data-sized exchange (the per-user window —
  // HashPartitioning(user_id) serves sessionize and both lags, the
  // q248 shape); the triple relation aggregates to ≤ |types|³ rows,
  // broadcast-class for the context totals.

  def journeyTrigrams(s: SparkSession, d: String): DataFrame =
    journeyTrigramsCore(events(s, d)
      .selectExpr("user_id", "event_type", "event_id",
        "CAST(ts div 1000 AS BIGINT) AS us"))

  /** Trigram transition relation from (user_id, event_type, event_id,
    * us): (from2, from1, to_type, n, p), p normalized per context. */
  private[graft] def journeyTrigramsCore(ev0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLag = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wRun = wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = ev0.select("user_id", "event_type", "event_id", "us")
      .withColumn("prev_us", lag("us", 1).over(wLag))
      .withColumn("brk", expr(
        s"CASE WHEN prev_us IS NULL OR us - prev_us > $journeyGapUs THEN 1 ELSE 0 END"))
      .withColumn("sid", sum("brk").over(wRun))
    val wS = Window.partitionBy("user_id", "sid").orderBy(col("us"), col("event_id"))
    val triples = sess
      .withColumn("from1", lag("event_type", 1).over(wS))
      .withColumn("from2", lag("event_type", 2).over(wS))
      .filter(col("from2").isNotNull)
      .groupBy(col("from2"), col("from1"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ |types|³-bounded; context totals re-read it
    val ctx = triples.groupBy("from2", "from1").agg(sum("n").as("n_ctx"))
    triples.join(broadcast(ctx), Seq("from2", "from1"))
      .selectExpr("from2", "from1", "to_type", "n",
        "round(CAST(n AS DOUBLE) / n_ctx, 6) AS p")
      .orderBy("from2", "from1", "to_type")
  }

  private val journeyTrigramsSql =
    s"""WITH e AS MATERIALIZED (
       |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
       |),
       |brks AS (
       |  SELECT user_id, event_type, event_id, us,
       |    CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > $journeyGapUs
       |      THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |),
       |sess AS MATERIALIZED (
       |  SELECT user_id, event_type, event_id, us,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM brks
       |),
       |tri AS MATERIALIZED (
       |  SELECT from2, from1, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM (
       |    SELECT event_type AS to_type,
       |      LAG(event_type, 1) OVER w AS from1,
       |      LAG(event_type, 2) OVER w AS from2
       |    FROM sess WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id)
       |  )
       |  WHERE from2 IS NOT NULL
       |  GROUP BY 1, 2, 3
       |),
       |ctx AS (SELECT from2, from1, CAST(SUM(n) AS BIGINT) AS n_ctx FROM tri GROUP BY 1, 2)
       |SELECT tri.from2, tri.from1, to_type, n,
       |  round(CAST(n AS DOUBLE) / n_ctx, 6) AS p
       |FROM tri JOIN ctx ON ctx.from2 = tri.from2 AND ctx.from1 = tri.from1
       |ORDER BY tri.from2, tri.from1, to_type""".stripMargin

  // ---- q249: sample-ratio-mismatch guardrail (assignment health) ------------
  // The FIRST check every experiment platform runs before reading a
  // result (Fabijan et al., "Diagnosing Sample Ratio Mismatch", KDD
  // 2019): are users landing in arms at the DESIGNED ratio? A biased
  // logger, a bot filter that fires arm-dependently, or a broken hash
  // silently invalidates q238/q245's z — SRM is the canary. Per
  // experiment the goodness-of-fit chi-square against the uniform
  // design (K = $maArms equal arms),
  //   χ² = Σ_arms (n_a − N/K)² / (N/K),  df = K−1,
  // flagged at the platform-standard p < 0.001 (Kohavi's threshold —
  // SRM wants high specificity, not 0.05). The arm grid is DENSE over
  // the K designed arms: an arm that received ZERO users is the most
  // extreme mismatch and must not vanish with its groupBy cell.
  // Exactness: counts exact; each arm's contribution is one
  // deterministic double expression over (n, n_all), quantized to
  // round(1e12·c) and summed as BIGINT (the q245 discipline; bound
  // 1e12·χ² ≤ 1e12·N < 2⁶³ through N ≈ 10⁹ users·exps). df = K−1 = 2
  // keeps the closed-form survival p = exp(−χ²/2) (the q245 lesson) —
  // hash-checkable, no regularized-gamma rows-only fallback. The flag
  // derives from the ROUNDED p (the q238 display-boundary rule).
  //
  // Scale shape: ONE data-sized exchange (the per-user fold, shared
  // state with q238/q245's conversion store — SRM only needs the user
  // SET, which that store carries); the |users|×E expansion feeds an
  // (E·K)-cell aggregate — broadcast-class everything after.

  private val srmK = maArms
  private val srmChiStr =
    s"CASE WHEN n_all > 0 THEN " +
      s"(n - CAST(n_all AS DOUBLE) / $srmK) * (n - CAST(n_all AS DOUBLE) / $srmK) / (CAST(n_all AS DOUBLE) / $srmK) " +
      s"ELSE CAST(0 AS DOUBLE) END"

  def srmCheck(s: SparkSession, d: String): DataFrame =
    srmCheckFromUsers(events(s, d).select("user_id").distinct())

  /** q249 panel from the per-user relation — the SAME grain as
    * [[abTestFromUsers]] minus the conv bit, so the streaming twin
    * reads q238/q245's conversion store (user set ⊂ its key column). */
  private[graft] def srmCheckFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    srmCheckCore(users
      .crossJoin(broadcast(
        s.range(abExps).select(col("id").as("experiment"))))
      .selectExpr("experiment", s"$maArmStr AS arm"))
  }

  /** Panel from an (experiment, arm ∈ [0,K)) per-user assignment
    * relation — split out so specs can plant skewed arm counts. */
  private[graft] def srmCheckCore(assigned: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    val cells = assigned.groupBy("experiment", "arm")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // (E·K)-bounded; grid fill + totals read it
    val grid = cells.select("experiment").distinct()
      .crossJoin(broadcast(s.range(srmK).select(col("id").as("arm"))))
    val dense = grid.join(cells, Seq("experiment", "arm"), "left")
      .na.fill(0L, Seq("n"))
    val tot = dense.groupBy("experiment").agg(sum("n").as("n_all"))
    val withChi = dense.join(broadcast(tot), Seq("experiment"))
      .selectExpr("experiment", "arm", "n", "n_all",
        s"CAST(round(1e12 * ($srmChiStr), 0) AS BIGINT) AS chi_fp")
    val chi = withChi.groupBy("experiment").agg(sum("chi_fp").as("chi2_fp"))
    withChi.join(broadcast(chi), Seq("experiment"))
      .selectExpr("experiment", "arm", "n",
        s"round(CAST(n_all AS DOUBLE) / $srmK, 6) AS expected",
        "round(CAST(chi2_fp AS DOUBLE) / 1e12, 6) AS chi2",
        // df = K−1 = 2: χ² survival = exp(−x/2), exact closed form
        "round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) AS chi2_p",
        "round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) < CAST(0.001 AS DOUBLE) AS srm")
      .orderBy("experiment", "arm")
  }

  private val srmCheckSql =
    s"""WITH u AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
       |asg AS MATERIALIZED (
       |  SELECT e.experiment, $maArmStr AS arm
       |  FROM u CROSS JOIN (
       |    SELECT CAST(g AS BIGINT) AS experiment
       |    FROM generate_series(0, ${abExps - 1}) gs(g)) e
       |),
       |cells AS MATERIALIZED (
       |  SELECT experiment, arm, CAST(count(*) AS BIGINT) AS n
       |  FROM asg GROUP BY 1, 2
       |),
       |dense AS MATERIALIZED (
       |  SELECT ex.experiment, ar.arm, COALESCE(cells.n, 0) AS n
       |  FROM (SELECT DISTINCT experiment FROM cells) ex
       |  CROSS JOIN (SELECT CAST(a AS BIGINT) AS arm
       |              FROM generate_series(0, ${srmK - 1}) ga(a)) ar
       |  LEFT JOIN cells ON cells.experiment = ex.experiment AND cells.arm = ar.arm
       |),
       |tot AS (SELECT experiment, CAST(SUM(n) AS BIGINT) AS n_all FROM dense GROUP BY 1),
       |wt AS MATERIALIZED (
       |  SELECT dense.experiment, arm, n, n_all,
       |    CAST(round(1e12 * ($srmChiStr), 0) AS BIGINT) AS chi_fp
       |  FROM dense JOIN tot ON dense.experiment = tot.experiment
       |),
       |chi AS (SELECT experiment, CAST(SUM(chi_fp) AS BIGINT) AS chi2_fp FROM wt GROUP BY 1)
       |SELECT wt.experiment, arm, n,
       |  round(CAST(n_all AS DOUBLE) / $srmK, 6) AS expected,
       |  round(CAST(chi2_fp AS DOUBLE) / 1e12, 6) AS chi2,
       |  round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) AS chi2_p,
       |  round(exp(-(CAST(chi2_fp AS DOUBLE) / 1e12) / 2), 6) < CAST(0.001 AS DOUBLE) AS srm
       |FROM wt JOIN chi ON chi.experiment = wt.experiment
       |ORDER BY wt.experiment, arm""".stripMargin

  // ---- q253: minimum detectable effect (experiment sensitivity) -------------
  // The question a platform answers BEFORE reading q238's verdict: what
  // lift could this test even see? With the standard normal-approx
  // power identity (α = 0.05 two-sided, power = 0.8),
  //   MDE = (z_{α/2} + z_{β}) · sqrt( p̂(1−p̂) · (1/n_c + 1/n_t) )
  // with z_{α/2} = 1.96 and z_β = 0.8416 (the textbook table constants,
  // pinned as literals so both engines share one expression tree), p̂
  // the pooled rate — the same SE kernel as q238's pooled z, so MDE is
  // exactly (1.96 + 0.8416) · (the z denominator). An experiment whose
  // observed |lift| clears its MDE is DETECTABLE (adequately powered
  // for the effect it shows); a "significant" q238 arrow on an
  // underpowered test is the winner's-curse case this panel exposes.
  // All counts exact; every double is one deterministic expression over
  // them (the q238 discipline), rounded to 6 dp; the flag compares the
  // ROUNDED lift and MDE (display-boundary rule).
  //
  // Scale shape: identical to q238 — ONE data-sized exchange (the
  // shared per-user conversion partial), then an (E·2)-cell aggregate.

  private val mdeMult = "(1.96 + 0.8416)" // z_{0.025} + z_{0.20}
  private val mdeStr =
    s"CASE WHEN n_c > 0 AND n_t > 0 AND x_c + x_t > 0 AND x_c + x_t < n_c + n_t " +
      s"THEN $mdeMult * sqrt($abPP * (1 - $abPP) * " +
      s"(CAST(1 AS DOUBLE) / n_c + CAST(1 AS DOUBLE) / n_t)) END"

  def abMde(s: SparkSession, d: String): DataFrame =
    abMdeFromUsers(events(s, d).groupBy("user_id")
      .agg(max(expr(convExprStr)).as("conv")))

  /** q253 panel from the per-user (user_id, conv) relation — the SAME
    * state grain as [[abTestFromUsers]], so the streaming twin shares
    * q238/q245's MAX-merged conversion store. */
  private[graft] def abMdeFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    abMdeCore(users
      .crossJoin(broadcast(
        s.range(abExps).select(col("id").as("experiment"))))
      .selectExpr("experiment", s"$abArmStr AS arm", "conv"))
  }

  /** Panel from an (experiment, arm ∈ {0,1}, conv ∈ {0,1}) per-user
    * assignment relation — split out so specs can plant 2×2 tables. */
  private[graft] def abMdeCore(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("experiment")
      .agg(
        sum(expr("CASE WHEN arm = 0 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("n_c"),
        sum(expr("CASE WHEN arm = 0 THEN conv ELSE 0 END")).as("x_c"),
        sum(expr("CASE WHEN arm = 1 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("n_t"),
        sum(expr("CASE WHEN arm = 1 THEN conv ELSE 0 END")).as("x_t"))
      .selectExpr("experiment", "n_c", "n_t",
        s"CASE WHEN n_c > 0 THEN round($abPC, 6) END AS p_c",
        s"CASE WHEN n_c + n_t > 0 THEN round($abPP, 6) END AS p_pool",
        s"CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC, 6) END AS lift_abs",
        s"round($mdeStr, 6) AS mde_abs",
        s"CASE WHEN x_c > 0 THEN round(($mdeStr) / $abPC, 6) END AS mde_rel",
        s"COALESCE(abs(CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC, 6) END) " +
          s">= round($mdeStr, 6), false) AS detectable")
      .orderBy("experiment")

  private val abMdeSql =
    s"""WITH u AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS conv
       |  FROM events GROUP BY 1
       |),
       |asg AS MATERIALIZED (
       |  SELECT e.experiment, $abArmStr AS arm, u.conv
       |  FROM u CROSS JOIN (
       |    SELECT CAST(g AS BIGINT) AS experiment
       |    FROM generate_series(0, ${abExps - 1}) gs(g)) e
       |),
       |cells AS MATERIALIZED (
       |  SELECT experiment,
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_c,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_t
       |  FROM asg GROUP BY 1
       |)
       |SELECT experiment, n_c, n_t,
       |  CASE WHEN n_c > 0 THEN round($abPC, 6) END AS p_c,
       |  CASE WHEN n_c + n_t > 0 THEN round($abPP, 6) END AS p_pool,
       |  CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC, 6) END AS lift_abs,
       |  round($mdeStr, 6) AS mde_abs,
       |  CASE WHEN x_c > 0 THEN round(($mdeStr) / $abPC, 6) END AS mde_rel,
       |  COALESCE(abs(CASE WHEN n_c > 0 AND n_t > 0 THEN round($abPT - $abPC, 6) END)
       |    >= round($mdeStr, 6), false) AS detectable
       |FROM cells
       |ORDER BY experiment""".stripMargin

  // ---- q250: CUPED variance-reduced experiment readout ----------------------
  // The variance-reduction workhorse of every large experiment platform
  // (Deng, Xu, Kohavi & Walker, "Improving the Sensitivity of Online
  // Controlled Experiments by Utilizing Pre-Experiment Data", WSDM
  // 2013): a continuous metric Y (post-period purchase revenue) is
  // adjusted by its pre-period covariate X,
  //   Ŷ = Y − θ·X,   θ = cov(X,Y)/var(X)   (pooled across arms),
  // shrinking var(Ŷ) by the factor (1 − ρ²) while leaving the expected
  // lift untouched (randomization makes E[X] arm-independent). The
  // textbook form subtracts θ·(X − X̄); dropping the X̄ recentering
  // shifts BOTH arms by the same constant, so lift, variances, and z
  // are identical — and the per-user metric stays an exact integer.
  //
  // Exactness (the q166 all-integer road — the r15 HUGEINT→DOUBLE ULP
  // lesson says wide-decimal casts must never feed a double chain):
  // X/Y are exact per-user CENTS (the q233 quantization); the calendar
  // split is integer day arithmetic; all moments are exact
  // DECIMAL(38,0)/HUGEINT sums; θ is fixed-pointed by ONE half-away
  // integer division at 1e6 (num = n·Sxy − Sx·Sy, den = n·Sxx − Sx²);
  // the adjusted metric ŷ = 1e6·y − θ_fp·x is an exact BIGINT
  // (micro-cents); and each reported statistic (lift in cents, the
  // v̂/n SE components in cents²) is again ONE exact integer division
  // to a < 2⁵³ fixed point, CAST to DOUBLE and divided by 1e6 — the
  // only floating ops are those final exact casts plus the z's
  // sqrt/divide over them, identical expression trees in both engines.
  // ρ² rides θ_fp: round(θ_fp·num/den_y) ≈ 1e6·num²/(den·den_y) — a
  // composition of two exact divisions, bit-identical cross-engine by
  // construction (num² alone would overflow the 38-digit window).
  // Magnitudes (sf0.1 probed: |users| ≈ 6·10⁴, per-user cents ≤ 10⁶):
  // cents moments ≤ 6·10¹⁶, n·moment ≤ 4·10²¹, ·1e6 ≤ 4·10²⁷; the
  // widest path is the µcents ŷ second moment entering its half-away
  // rewrite, 2·1e6·(n·Σŷ² − (Σŷ)²) ≤ 10³⁸ through |ŷ| ≤ 10¹¹ µcents
  // at 10⁶ users — inside DECIMAL(38,0)/HUGEINT; past that window the
  // θ/SE quantum drops to 1e3 the way q166 documents its det bound.
  //
  // Scale shape: TWO passes over the users-bounded per-user relation
  // (localCheckpointed once; pass 1 = E-row pooled moments for θ,
  // pass 2 = E×2-cell adjusted moments) — the event-grain fold is the
  // single data-sized exchange, the expansion joins are broadcasts of
  // E-row relations. No window, no driver linear algebra.

  /** Half-away-from-zero fixed point round(scale·num/den) as ONE exact
    * integer division (the q166 pattern); `divTok` = Spark `DIV` /
    * DuckDB `//` (floor vs truncate agree on the non-negative operands
    * the rewrite produces). Caller guards den > 0. */
  private def fpDivStr(num: String, den: String, scale: String, divTok: String): String = {
    val pos = s"(2 * ($num) * $scale + ($den)) $divTok (2 * ($den))"
    val neg = s"(2 * (-($num)) * $scale + ($den)) $divTok (2 * ($den))"
    s"CAST(CASE WHEN ($num) < 0 THEN -($neg) ELSE $pos END AS BIGINT)"
  }

  /** Pooled-moment aggregates for pass 1 — `wide` is the engine's
    * 38-digit integer cast target (Spark DECIMAL(38,0), DuckDB
    * HUGEINT). */
  private def cupedMomentSums(wide: String): Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n",
    s"SUM(CAST(x AS $wide)) AS sx",
    s"SUM(CAST(y AS $wide)) AS sy",
    s"SUM(CAST(x AS $wide) * x) AS sxx",
    s"SUM(CAST(x AS $wide) * y) AS sxy",
    s"SUM(CAST(y AS $wide) * y) AS syy")

  /** θ/ρ² fixed points from the pooled moments (two-stage: num/den
    * first, then the divisions). */
  private def cupedThetaExprs(wide: String, divTok: String): (Seq[String], Seq[String]) = (
    Seq("experiment", "n",
      s"CAST(n AS $wide) * sxy - sx * sy AS num_t",
      s"CAST(n AS $wide) * sxx - sx * sx AS den_t",
      s"CAST(n AS $wide) * syy - sy * sy AS den_y"),
    Seq("experiment",
      s"CASE WHEN den_t > 0 THEN ${fpDivStr("num_t", "den_t", "1000000", divTok)} " +
        "ELSE CAST(0 AS BIGINT) END AS theta_fp",
      s"CASE WHEN den_t > 0 AND den_y > 0 THEN " +
        s"${fpDivStr(s"(CASE WHEN den_t > 0 THEN ${fpDivStr("num_t", "den_t", "1000000", divTok)} ELSE CAST(0 AS BIGINT) END) * num_t", "den_y", "1", divTok)} " +
        "ELSE CAST(0 AS BIGINT) END AS rho2_fp"))

  /** Pass-2 per-arm conditional moment sums over (arm, y, yhat). The
    * n cells re-cast to BIGINT so both engines surface int64 counts
    * (DuckDB SUM(BIGINT) widens to HUGEINT; Spark does not). */
  private def cupedCellSums(wide: String): Seq[String] =
    (for (a <- Seq(0, 1); (nm, e) <- Seq(
      "n" -> "1",
      "syr" -> s"CAST(y AS $wide)",
      "syyr" -> s"CAST(y AS $wide) * y",
      "syh" -> s"CAST(yhat AS $wide)",
      "syyh" -> s"CAST(yhat AS $wide) * yhat")) yield {
      val tag = if (a == 0) "c" else "t"
      if (nm == "n")
        s"CAST(SUM(CASE WHEN arm = $a THEN 1 ELSE 0 END) AS BIGINT) AS n_$tag"
      else
        s"SUM(CASE WHEN arm = $a THEN $e ELSE CAST(0 AS $wide) END) AS ${nm}_$tag"
    }) ++ Seq("MAX(theta_fp) AS theta_fp", "MAX(rho2_fp) AS rho2_fp")

  /** Final fixed points: lift (cents) and v̂/n SE components (cents²)
    * for the raw and CUPED readouts. */
  private def cupedFpExprs(wide: String, divTok: String): Seq[String] = {
    def se2(syy: String, sy: String, nn: String, extra: String) =
      s"CASE WHEN $nn > 1 THEN ${fpDivStr(
        s"CAST($nn AS $wide) * $syy - $sy * $sy",
        s"CAST($nn AS $wide) * $nn * ($nn - 1) * $extra", "1000000", divTok)} END"
    Seq("experiment", "n_c", "n_t", "theta_fp", "rho2_fp",
      s"CASE WHEN n_c > 0 AND n_t > 0 THEN ${fpDivStr(
        "syr_t * n_c - syr_c * n_t", s"CAST(n_t AS $wide) * n_c", "1000000", divTok)} END AS liftr_fp",
      s"CASE WHEN n_c > 0 AND n_t > 0 THEN ${fpDivStr(
        "syh_t * n_c - syh_c * n_t", s"CAST(n_t AS $wide) * n_c", "1", divTok)} END AS lifth_fp",
      // raw y is cents; ŷ is µcents, so its v̂/n denominator carries
      // the extra 1e12 to land both SE² fixed points in cents²
      s"${se2("syyr_c", "syr_c", "n_c", "1")} AS se2r_c",
      s"${se2("syyr_t", "syr_t", "n_t", "1")} AS se2r_t",
      s"${se2("syyh_c", "syh_c", "n_c", "1000000000000")} AS se2h_c",
      s"${se2("syyh_t", "syh_t", "n_t", "1000000000000")} AS se2h_t")
  }

  /** The reported panel over the fixed-point columns — identical text
    * in both engines (every input is a < 2⁵³ BIGINT). */
  private val cupedOutExprs: Seq[String] = {
    def z(lift: String, a: String, b: String) =
      s"CASE WHEN $a IS NOT NULL AND $b IS NOT NULL AND $a + $b > 0 " +
        s"THEN (CAST($lift AS DOUBLE) / 1e6) / sqrt(CAST($a + $b AS DOUBLE) / 1e6) END"
    val zr = z("liftr_fp", "se2r_c", "se2r_t")
    val zh = z("lifth_fp", "se2h_c", "se2h_t")
    Seq("experiment", "n_c", "n_t",
      "CAST(theta_fp AS DOUBLE) / 1e6 AS theta",
      "CAST(liftr_fp AS DOUBLE) / 1e6 AS lift_raw",
      s"round($zr, 6) AS z_raw",
      s"COALESCE(abs(round($zr, 6)) > CAST(1.96 AS DOUBLE), false) AS significant_raw",
      "CAST(lifth_fp AS DOUBLE) / 1e6 AS lift_cuped",
      s"round($zh, 6) AS z_cuped",
      s"COALESCE(abs(round($zh, 6)) > CAST(1.96 AS DOUBLE), false) AS significant_cuped",
      "CAST(rho2_fp AS DOUBLE) / 1e6 AS var_reduction")
  }

  def cuped(s: SparkSession, d: String): DataFrame =
    cupedFromDays(events(s, d).selectExpr("user_id",
      s"${graft.util.Tables.tsNanosDay} AS day", "event_type",
      "CAST(round(value * 100, 0) AS BIGINT) AS cents"))

  /** q250 from the (user_id, day, event_type, cents) event relation —
    * the grain the streaming twin stores: the calendar midpoint is a
    * GLOBAL aggregate, so a late day shifts the pre/post boundary and
    * reclassifies existing purchases — no per-user partial survives
    * that, only the event grain does. */
  private[graft] def cupedFromDays(ev: DataFrame): DataFrame = {
    val bounds = ev.agg(min("day").as("dmin"), max("day").as("dmax"))
    cupedFromUsers(ev.crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg(
        sum(expr("CASE WHEN event_type = 'purchase' AND day <= (dmin + dmax) DIV 2 THEN cents ELSE CAST(0 AS BIGINT) END")).as("x"),
        sum(expr("CASE WHEN event_type = 'purchase' AND day >  (dmin + dmax) DIV 2 THEN cents ELSE CAST(0 AS BIGINT) END")).as("y")))
  }

  /** q250 panel from the per-user (user_id, x, y) pre/post-cents
    * relation — the grain a streaming twin would maintain (see the
    * q250 twin's event-grain argument in StreamOps). */
  private[graft] def cupedFromUsers(users: DataFrame): DataFrame = {
    val s = users.sparkSession
    cupedCore(users
      .crossJoin(broadcast(
        s.range(abExps).select(col("id").as("experiment"))))
      .selectExpr("experiment", s"$abArmStr AS arm", "x", "y"))
  }

  /** Panel from an (experiment, arm ∈ {0,1}, x, y) per-user assignment
    * relation — split out so specs can plant covariate structure. */
  private[graft] def cupedCore(assigned0: DataFrame): DataFrame = {
    val wide = "DECIMAL(38,0)"
    val assigned = assigned0.localCheckpoint() // users-bounded; 2 passes
    val momAggs = cupedMomentSums(wide).map(expr)
    val moms = assigned.groupBy("experiment")
      .agg(momAggs.head, momAggs.tail: _*)
    val (thStage1, thStage2) = cupedThetaExprs(wide, "DIV")
    val theta = moms.selectExpr(thStage1: _*).selectExpr(thStage2: _*)
    assigned
      .join(broadcast(theta), Seq("experiment"))
      .selectExpr("experiment", "arm", "y", "theta_fp", "rho2_fp",
        "1000000 * y - theta_fp * x AS yhat")
      .groupBy("experiment")
      .agg(cupedCellSums(wide).map(expr).head,
        cupedCellSums(wide).map(expr).drop(1): _*)
      .selectExpr(cupedFpExprs(wide, "DIV"): _*)
      .selectExpr(cupedOutExprs: _*)
      .orderBy("experiment")
  }

  private def cupedSql: String = {
    val wide = "HUGEINT"
    val (thStage1, thStage2) = cupedThetaExprs(wide, "//")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
       |    CAST(round(value * 100, 0) AS BIGINT) AS cents
       |  FROM events
       |),
       |bounds AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM ev),
       |u AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' AND day <= (dmin + dmax) // 2 THEN cents ELSE 0 END) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' AND day >  (dmin + dmax) // 2 THEN cents ELSE 0 END) AS BIGINT) AS y
       |  FROM ev CROSS JOIN bounds GROUP BY 1
       |),
       |asg AS MATERIALIZED (
       |  SELECT e.experiment, $abArmStr AS arm, u.x, u.y
       |  FROM u CROSS JOIN (
       |    SELECT CAST(g AS BIGINT) AS experiment
       |    FROM generate_series(0, ${abExps - 1}) gs(g)) e
       |),
       |moms AS (
       |  SELECT experiment, ${cupedMomentSums(wide).mkString(", ")}
       |  FROM asg GROUP BY 1
       |),
       |th1 AS (SELECT ${thStage1.mkString(", ")} FROM moms),
       |th AS MATERIALIZED (SELECT ${thStage2.mkString(", ")} FROM th1),
       |cells AS (
       |  SELECT a.experiment, ${cupedCellSums(wide).mkString(",\n|    ")}
       |  FROM (SELECT asg.experiment, arm, y, theta_fp, rho2_fp,
       |          1000000 * y - theta_fp * x AS yhat
       |        FROM asg JOIN th ON th.experiment = asg.experiment) a
       |  GROUP BY 1
       |),
       |fin AS (SELECT ${cupedFpExprs(wide, "//").mkString(",\n|    ")} FROM cells)
       |SELECT ${cupedOutExprs.mkString(",\n|  ")}
       |FROM fin
       |ORDER BY experiment""".stripMargin
  }

  // ---- q254: power-user curve (L30 activity-days histogram) -----------------
  // The engagement-DEPTH panel beside q221's engagement-breadth counts:
  // over the trailing [[mauDays]]-day window ending at the calendar
  // end, how many users were active exactly k of the 30 days? The
  // "power user curve" (the L28/L30 histogram product growth teams
  // read for the smile shape: a hump at 1 = tourist traffic, mass near
  // 30 = habit). Dense k ∈ 1..30 grid — an empty bin is the signal, it
  // must not vanish with its groupBy cell (the q249 dense-grid rule) —
  // with each bin's share of the window's active users. Counts exact;
  // ONE division per bin.
  //
  // Scale shape: ONE data-sized exchange (the per-user distinct-day
  // fold over the 30-day slice); the histogram is 30-bounded and its
  // total a broadcast.

  def powerCurve(s: SparkSession, d: String): DataFrame =
    powerCurveCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  /** L30 histogram from a (user_id, day) activity relation:
    * (days_active, n_users, share). */
  private[graft] def powerCurveCore(userDay: DataFrame): DataFrame = {
    val s = userDay.sparkSession
    val ud = userDay.select("user_id", "day").distinct()
    val dend = ud.agg(max("day").as("d1"))
    val perUser = ud.crossJoin(broadcast(dend))
      .filter(col("day") > col("d1") - mauDays)
      .groupBy("user_id").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_users"))
      .localCheckpoint() // 30-bounded; grid fill + total read it
    val tot = perUser.agg(sum("n_users").as("n_tot"))
    s.range(1, mauDays + 1).select(col("id").as("days_active"))
      .join(perUser.withColumnRenamed("k", "days_active"),
        Seq("days_active"), "left")
      .na.fill(0L, Seq("n_users"))
      .crossJoin(broadcast(tot))
      .selectExpr("days_active", "n_users",
        "CASE WHEN n_tot > 0 THEN round(CAST(n_users AS DOUBLE) / n_tot, 6) END AS share")
      .orderBy("days_active")
  }

  private val powerCurveSql =
    s"""WITH ud AS MATERIALIZED (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |),
       |dend AS (SELECT MAX(day) AS d1 FROM ud),
       |hist AS MATERIALIZED (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_users FROM (
       |    SELECT user_id, CAST(count(*) AS BIGINT) AS k
       |    FROM ud CROSS JOIN dend WHERE day > d1 - $mauDays GROUP BY 1
       |  ) GROUP BY 1
       |),
       |tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_tot FROM hist)
       |SELECT g.days_active, COALESCE(hist.n_users, 0) AS n_users,
       |  CASE WHEN n_tot > 0
       |    THEN round(CAST(COALESCE(hist.n_users, 0) AS DOUBLE) / n_tot, 6) END AS share
       |FROM (SELECT CAST(k AS BIGINT) AS days_active
       |      FROM generate_series(1, $mauDays) gs(k)) g
       |LEFT JOIN hist ON hist.k = g.days_active
       |CROSS JOIN tot
       |ORDER BY g.days_active""".stripMargin

  // ---- q255: new-vs-returning daily split -------------------------------------
  // The acquisition-vs-retention decomposition of q221's DAU: per
  // calendar day, how many active users were seen for the FIRST time
  // ever (new) vs had history (returning), with the returning share —
  // the first split any growth dashboard draws, and the one that
  // separates "DAU grew because acquisition spiked" from "because
  // retention improved". First-ever day is the all-time per-user MIN
  // (not window-relative — the q219 cohort discipline); the output
  // rides q221's dense calendar so zero-activity days surface as
  // explicit zeros. Counts exact; ONE division per day.
  //
  // Scale shape: the per-(user, day) distinct and the per-user MIN
  // share one HashPartitioning(user_id) exchange (min-join back is
  // co-partitioned); the daily panel is days-bounded.

  def newReturning(s: SparkSession, d: String): DataFrame =
    newReturningCore(events(s, d)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))

  /** Daily split from a (user_id, day) activity relation:
    * (day, dau, new_users, returning_users, returning_share). */
  private[graft] def newReturningCore(userDay: DataFrame): DataFrame = {
    val ud = userDay.select("user_id", "day").distinct()
      .localCheckpoint() // user·day-bounded; d0 + daily split read it
    val d0 = ud.groupBy("user_id").agg(min("day").as("d0"))
    val daily = ud.join(d0, Seq("user_id"))
      .groupBy("day").agg(
        count(lit(1)).as("dau"),
        sum(expr("CASE WHEN day = d0 THEN CAST(1 AS BIGINT) ELSE 0 END")).as("new_users"))
    val cal = ud.agg(min("day").as("dmin"), max("day").as("dmax"))
      .selectExpr("explode(sequence(dmin, dmax)) AS day")
    cal.join(daily, Seq("day"), "left")
      .na.fill(0L, Seq("dau", "new_users"))
      .selectExpr("day", "dau", "new_users",
        "dau - new_users AS returning_users",
        "CASE WHEN dau > 0 THEN round(CAST(dau - new_users AS DOUBLE) / dau, 6) END AS returning_share")
      .orderBy("day")
  }

  private val newReturningSql =
    s"""WITH ud AS MATERIALIZED (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |),
       |d0 AS MATERIALIZED (
       |  SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY 1
       |),
       |daily AS MATERIALIZED (
       |  SELECT day, CAST(count(*) AS BIGINT) AS dau,
       |    CAST(SUM(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users
       |  FROM ud JOIN d0 ON d0.user_id = ud.user_id GROUP BY 1
       |),
       |cal AS (
       |  SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM ud
       |)
       |SELECT cal.day, COALESCE(daily.dau, 0) AS dau,
       |  COALESCE(daily.new_users, 0) AS new_users,
       |  COALESCE(daily.dau, 0) - COALESCE(daily.new_users, 0) AS returning_users,
       |  CASE WHEN COALESCE(daily.dau, 0) > 0
       |    THEN round(CAST(COALESCE(daily.dau, 0) - COALESCE(daily.new_users, 0) AS DOUBLE)
       |      / daily.dau, 6) END AS returning_share
       |FROM cal LEFT JOIN daily ON daily.day = cal.day
       |ORDER BY cal.day""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q06_window_lag_diff", windowLagDiff, Some(windowLagDiffSql)),
    Q("q07_zscore_by_user", zscoreByUser, Some(zscoreByUserSql)),
    Q("q16_boxcar_design", boxcarDesign, Some(boxcarDesignSql)),
    Q("q17_asof_join", asofPurchaseClick, Some(asofPurchaseClickSql)),
    Q("q19_tumbling_hourly", tumblingHourly, Some(tumblingHourlySql)),
    Q("q52_sessionize", sessionize, Some(sessionizeSql)),
    Q("q219_retention_cohorts", retentionCohorts, Some(retentionSql)),
    Q("q220_funnel", funnel, Some(funnelSql)),
    Q("q221_active_users", activeUsers, Some(activeUsersSql)),
    Q("q224_active_users_kmv", activeUsersKmv, Some(activeUsersKmvSql)),
    Q("q233_revenue_cohorts", revenueCohorts, Some(revenueCohortsSql)),
    Q("q235_rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
    Q("q237_funnel_ttc", funnelTtc, Some(funnelTtcSql)),
    Q("q238_ab_test", abTest, Some(abTestSql)),
    Q("q242_retention_kmv", retentionKmv, Some(retentionKmvSql)),
    Q("q243_churn_survival", churnSurvival, Some(churnSurvivalSql)),
    Q("q244_journey_transitions", journeyTransitions, Some(journeyTransitionsSql)),
    Q("q245_ab_multiarm", abMultiArm, Some(abMultiArmSql)),
    Q("q246_log_rank", logRank, Some(logRankSql)),
    Q("q248_top_journeys", topJourneys, Some(topJourneysSql)),
    Q("q249_srm_check", srmCheck, Some(srmCheckSql)),
    Q("q250_cuped", cuped, Some(cupedSql)),
    Q("q251_journey_trigrams", journeyTrigrams, Some(journeyTrigramsSql)),
    Q("q252_hazard_ratio", hazardRatio, Some(hazardRatioSql)),
    Q("q253_ab_mde", abMde, Some(abMdeSql)),
    Q("q254_power_curve", powerCurve, Some(powerCurveSql)),
    Q("q255_new_returning", newReturning, Some(newReturningSql)),
    Q("q222_error_spikes", errorSpikes, Some(errorSpikesSql)),
    Q("q159_fd_scrub", fdScrub, Some(fdScrubSql)),
  )
}
