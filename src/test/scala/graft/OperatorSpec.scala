package graft

import org.apache.spark.sql.functions._
import graft.stats.StatsOps
import graft.timeseries.TimeOps
import graft.design.DesignOps
import graft.catalog.RulesOps

/** Edge-case unit tests on tiny literal DataFrames (SURVEY.md §5.2). */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("zscore: mean 0, population sd 1") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)).toDF("g", "v")
    val z = StatsOps.zscore(df, "v", Seq("g")).select("z").as[Double].collect().sorted
    // population sd of {1,2,3,4} = sqrt(1.25); z = (v-2.5)/sd
    val sd = math.sqrt(1.25)
    val expected = Seq(-1.5 / sd, -0.5 / sd, 0.5 / sd, 1.5 / sd)
    z.zip(expected).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("mode: smallest value wins ties (hmode semantics)") {
    val df = Seq(("g", 5.0), ("g", 5.0), ("g", 3.0), ("g", 3.0), ("g", 9.0)).toDF("grp", "v")
    val m = StatsOps.modeDeterministic(df, Seq("grp"), "v").select("mode_value").as[Double].head()
    assert(m == 3.0)
  }

  test("lagDiff: leading null filled with 0, diffs ordered") {
    val df = Seq(("u", 0L, 10.0), ("u", 1L, 13.0), ("u", 2L, 11.5)).toDF("g", "t", "v")
    val out = TimeOps.lagDiff(df, "v", Seq("g"), Seq("t")).orderBy("t").select("diff").as[Double].collect()
    assert(out.toSeq == Seq(0.0, 3.0, -1.5))
  }

  test("asofJoin: picks latest right row at or before left ts; null when none") {
    val left = Seq(("u", 10L, "p1"), ("u", 5L, "p2"), ("v", 1L, "p3")).toDF("k", "ts", "id")
    val right = Seq(("u", 4L, 40.0), ("u", 10L, 100.0), ("u", 11L, 110.0)).toDF("k", "ts", "payload")
    val out = TimeOps
      .asofJoin(left, right, Seq("k"), "ts", Seq("payload"))
      .orderBy("id")
      .select("id", "asof_payload")
      .collect()
      .map(r => (r.getString(0), Option(r.get(1))))
    // p1 at ts=10 sees the ts=10 right row (ties inclusive); p2 sees ts=4; p3 none
    assert(out.toSeq == Seq(("p1", Some(100.0)), ("p2", Some(40.0)), ("p3", None)))
  }

  test("events ts: the NTZ and instant vintages normalize bit-identically under a non-UTC zone") {
    // wall clocks around the epoch, a Los Angeles DST gap and a leap day;
    // the NTZ vintage stores each as a wall clock, the instant vintage as
    // that wall clock read in UTC. (`timestampdiff` from the NTZ epoch,
    // the conversion before ntz_micros, reads the session zone: it puts
    // the DST-gap wall clock an hour late.)
    val walls = Seq("1969-12-31 23:59:59.999999", "1970-01-01 00:00:00",
      "2024-03-10 02:30:00.123456", "2024-02-29 23:59:59.5", "2024-11-03 01:30:00")
    val expected = walls.map { w =>
      val t = java.time.LocalDateTime.parse(w.replace(' ', 'T'))
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + t.getNano
    }
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val dir = java.nio.file.Files.createTempDirectory("graft-ts").toString
    val lit = walls.map(w => s"('$w')").mkString(", ")
    la.sql(s"SELECT i, CAST(w AS TIMESTAMP_NTZ) AS ts FROM " +
      s"(SELECT posexplode(array($lit)) AS (i, w))").write.parquet(s"$dir/ntz")
    la.sql(s"SELECT i, CAST(concat(w, 'Z') AS TIMESTAMP) AS ts FROM " +
      s"(SELECT posexplode(array($lit)) AS (i, w))").write.parquet(s"$dir/ltz")
    def nanos(vintage: String): Seq[Long] = {
      val raw = la.read.parquet(s"$dir/$vintage")
      graft.util.Tables.normalizeTsNanos(raw).orderBy("i").select("ts").as[Long].collect().toSeq
    }
    assert(la.read.parquet(s"$dir/ntz").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(la.read.parquet(s"$dir/ltz").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(nanos("ntz") == expected)
    assert(nanos("ltz") == expected)
  }

  test("boxcar: trial straddling a sample edge covers only samples in [onset, onset+dur)") {
    // samples at t=0..4 sec; the trial covers [1.0, 3.0): samples 1, 2 —
    // not 3 (right-open), not 0
    val trials = Seq((1.0, 2.0, "A")).toDF("onset", "duration", "trial_type")
    val out = DesignOps
      .boxcar(trials, Seq("A"), 1.0, 5)
      .orderBy("t")
      .select("A")
      .as[Long]
      .collect()
    assert(out.toSeq == Seq(0L, 1L, 1L, 0L, 0L))
  }

  test("boxcar: abutting trials of different types don't bleed") {
    val trials = Seq((0.0, 2.0, "A"), (2.0, 2.0, "B")).toDF("onset", "duration", "trial_type")
    val rows = DesignOps.boxcar(trials, Seq("A", "B"), 1.0, 4).orderBy("t")
      .select("A", "B").as[(Long, Long)].collect()
    assert(rows.toSeq == Seq((1L, 0L), (1L, 0L), (0L, 1L), (0L, 1L)))
  }

  test("globToLike translates config.json's four pattern shapes") {
    assert(RulesOps.globToLike("*task*") == "%task%")
    assert(RulesOps.globToLike("*64dir") == "%64dir")
    assert(RulesOps.globToLike("STAND*") == "STAND%")
    assert(RulesOps.globToLike("PROMO") == "PROMO")
    assert(RulesOps.globToLike("a_b%c") == "a\\_b\\%c")
    assert(RulesOps.globToLike("x?y") == "x_y")
  }

  test("histogram bins sum to entity count") {
    val df = Seq(1L, 3L, 7L, 12L, 13L).toDF("c")
    val h = StatsOps.histogram(df, "c", 5L).collect()
    assert(h.map(_.getLong(1)).sum == 5)
    val bins = h.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins == Map(0L -> 2L, 5L -> 1L, 10L -> 2L))
  }

  test("q219: the cohort matrix counts exactly the planted comeback pattern") {
    val s = spark
    import s.implicits._
    // cohort day 10: users 1,2,3 — all active day 10; 1,2 return day 11;
    // only 1 returns day 12. cohort day 11: user 4, never returns.
    // duplicate activity rows must not double-count (the distinct).
    val ud = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), (1L, 10L),
      (1L, 11L), (2L, 11L),
      (1L, 12L),
      (4L, 11L),
    ).toDF("user_id", "day")
    val out = graft.queries.TimeSeries.retentionCore(ud)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((10L, 0L)) === ((3L, 3L, 1.0)))
    assert(out((10L, 1L)) === ((2L, 3L, 0.666667)))
    assert(out((10L, 2L)) === ((1L, 3L, 0.333333)))
    assert(out((11L, 0L)) === ((1L, 1L, 1.0)))
    assert(out.size === 4, s"exactly the active cells: $out")
  }

  test("q220: the funnel honors order and the 24h window at its exact boundary") {
    val s = spark
    import s.implicits._
    val W = 86400000000L
    val ev = Seq(
      // user 1: full conversion, purchase exactly AT the window edge (kept)
      (1L, "view", 0L), (1L, "click", 1000L), (1L, "purchase", 1000L + W),
      // user 2: click BEFORE the first view — order must reject it
      (2L, "click", 0L), (2L, "view", 5000L),
      // user 3: click one microsecond past the window — rejected
      (3L, "view", 0L), (3L, "click", W + 1L),
      // user 4: converts view->click, then purchases outside click's window
      (4L, "view", 0L), (4L, "click", 10L), (4L, "purchase", 10L + W + 1L),
      // user 5: purchase before click (order), then nothing after
      (5L, "view", 0L), (5L, "purchase", 5L), (5L, "click", 20L),
    ).toDF("user_id", "event_type", "us")
    val out = graft.queries.TimeSeries.funnelCore(ev)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // views: users 1,2,3,4,5 -> 5; clicks after view in-window: 1,4,5 -> 3
    // purchases after click in-window: only user 1 (exact boundary kept)
    assert(out(1L) === (("view", 5L, None, Some(1.0))), s"${out(1L)}")
    assert(out(2L) === (("click", 3L, Some(0.6), Some(0.6))), s"${out(2L)}")
    assert(out(3L) === (("purchase", 1L, Some(0.333333), Some(0.2))), s"${out(3L)}")
  }

  test("q221: DAU/WAU/MAU trailing distinct counts on a planted calendar") {
    val s = spark
    import s.implicits._
    // user 1 active days 0 and 8; user 2 active day 0 only
    val ud = Seq((1L, 0L), (2L, 0L), (1L, 8L)).toDF("user_id", "day")
    val out = graft.queries.TimeSeries.activeUsersCore(ud)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out.keySet === (0L to 8L).toSet, s"calendar clamps to d1: ${out.keySet}")
    assert(out(0L) === ((2L, 2L, 2L, Some(1.0))))
    // day 6: inside both users' trailing 7d window from day 0
    assert(out(6L) === ((0L, 2L, 2L, Some(0.0))))
    // day 7: the 7d window from day 0 has closed, 30d still open
    assert(out(7L) === ((0L, 0L, 2L, Some(0.0))))
    // day 8: user 1 returns - dau 1, wau 1, mau still both users
    assert(out(8L) === ((1L, 1L, 2L, Some(0.5))))
    // a >30-day activity gap yields explicit 0/0/0 rows, never holes
    val gap = graft.queries.TimeSeries.activeUsersCore(
      Seq((1L, 0L), (2L, 40L)).toDF("user_id", "day"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(gap.keySet === (0L to 40L).toSet, "full calendar, no holes")
    assert(gap(29L) === ((0L, 0L, 1L, Some(0.0))), "MAU window's last day")
    assert(gap(30L) === ((0L, 0L, 0L, None)), "window closed: explicit zeros")
    assert(gap(40L) === ((1L, 1L, 1L, Some(1.0))))
  }

  test("q219 streaming twin: snapshot equals the batch panel over everything admitted, replay converges") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_ret_udays")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_ret"))
    val day = 86400000000000L // ns
    val batches: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 0L), (2L, 0L), (3L, 0L)),
      Seq((1L, day), (2L, day), (4L, day)),
      Seq((1L, 2 * day)),
    )
    val out = java.nio.file.Files.createTempDirectory("graft-ret").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamOps.streamingRetention(
      ms.toDF().toDF("user_id", "ts"), "graft_test_ret",
      "/tmp/graft_test_ret", out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
      ms.addData(batches.head); q.processAllAvailable() // at-least-once replay
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.retentionCore(
      batches.flatten.toDF("user_id", "ts")
        .selectExpr("user_id", "CAST((ts div 1000) div 86400000000 AS BIGINT) AS day"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal the batch panel incl. after a replay: $got vs $ref")
  }

  test("q224: KMV panel — exact-regime equality under k, estimate within the 1/sqrt(k) class above it") {
    val s = spark
    import s.implicits._
    // 40 users on one day: every window's sketch stays under k=64 → the
    // estimate IS the exact count (the KMV exact regime)
    val small = graft.queries.TimeSeries.activeUsersKmvCore(
      (1L to 40L).map(u => (u, 0L)).toDF("user_id", "day"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6)))
    small.foreach { case (dau, dauEst, mau, mauEst) =>
      assert(dau === dauEst && mau === mauEst,
        s"under k the sketch must be exact: $small")
    }
    // 500 users: the estimate regime — bound the relative error at the
    // ~1/sqrt(64) = 12.5% class (3x slack for the single draw)
    val big = graft.queries.TimeSeries.activeUsersKmvCore(
      (1L to 500L).map(u => (u, 0L)).toDF("user_id", "day"))
      .filter(col("day") === 0L).head()
    val (exact, est) = (big.getLong(1), big.getLong(2))
    assert(exact === 500L)
    assert(est != 500L, "the estimate regime must actually be live")
    assert(math.abs(est - 500.0) / 500.0 < 0.375,
      s"KMV estimate out of the error class: $est vs $exact")
  }

  test("q221 streaming twin: snapshot equals the batch panel, redelivery appends nothing") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_au_udays")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_au"))
    val day = 86400000000000L // ns
    val batches: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 0L), (2L, 0L), (1L, 0L)), // intra-batch dup absorbed
      Seq((1L, 8 * day), (3L, 8 * day)),
    )
    val out = java.nio.file.Files.createTempDirectory("graft-au").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamOps.streamingActiveUsers(
      ms.toDF().toDF("user_id", "ts"), "graft_test_au",
      "/tmp/graft_test_au", out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
      ms.addData(batches.head); q.processAllAvailable() // redelivery
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.activeUsersCore(
      batches.flatten.toDF("user_id", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal the batch panel incl. after a redelivery: $got vs $ref")
    // the (user_id, day) guard keeps the grain table at true distinct size
    assert(s.table("graft_test_au_udays").count() === 4L,
      "redelivered/duplicate activity must not grow the grain table")
  }

  test("q224 streaming twin: merged day sketches estimate BIT-IDENTICALLY to the batch panel") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_kmv_kmv")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_kmv"))
    val day = 86400000000000L // ns
    // > k users on day 0 so the ESTIMATE regime is live, plus a second
    // day — the merge must keep per-day sketches separate
    val batches: Seq[Seq[(Long, Long)]] = Seq(
      (1L to 80L).map(u => (u, 0L)),
      (41L to 120L).map(u => (u, day)), // overlap: union semantics
    )
    val out = java.nio.file.Files.createTempDirectory("graft-kmv").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamOps.streamingActiveUsersKmv(
      ms.toDF().toDF("user_id", "ts"), "graft_test_kmv",
      "/tmp/graft_test_kmv", out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
      ms.addData(batches.head); q.processAllAvailable() // replay: set merge
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.activeUsersKmvCore(
      batches.flatten.toDF("user_id", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day"))
      .selectExpr("day", "dau_est", "wau_est", "mau_est")
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"sketch-merge estimates must be bit-identical to the batch panel: $got vs $ref")
    // the estimate regime must actually be live in the pin
    val d0 = s.read.parquet(out).filter(col("day") === 0L).head()
    assert(d0.getLong(1) != 80L, s"day 0 must be in the estimate regime: $d0")
  }

  test("q242 streaming twin: cell-sketch merges estimate bit-identically; replay is algebraic no-op") {
    val s = spark
    import s.implicits._
    Seq("graft_test_rkmv_rcoh", "graft_test_rkmv_rcells")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_rkmv"))
    val day = 86400000000000L // ns
    // day-0 cohort of 80 users (> k = 64, so the estimate regime is
    // live); 40 of them return on day 1 alongside 40 NEW day-1-cohort
    // users. In-order delivery: every user's first day arrives first.
    val batches: Seq[Seq[(Long, Long)]] = Seq(
      (1L to 80L).map(u => (u, 0L)),
      (41L to 120L).map(u => (u, day)),
    )
    val out = java.nio.file.Files.createTempDirectory("graft-rkmv").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamOps.streamingRetentionKmv(
      ms.toDF().toDF("user_id", "ts"), "graft_test_rkmv",
      "/tmp/graft_test_rkmv", out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
      ms.addData(batches.head); q.processAllAvailable() // replay: MIN/union no-ops
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.retentionKmvCore(
      batches.flatten.toDF("user_id", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day"))
      .selectExpr("cohort_day", "offset_days", "n_active_est",
        "cohort_n_est", "retention_est")
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"sketch-state panel must be bit-identical to the batch q242: $got vs $ref")
    // the estimate regime must actually be live in the pin
    val c0 = s.read.parquet(out)
      .filter(col("cohort_day") === 0L && col("offset_days") === 0L).head()
    assert(c0.getLong(2) != 80L, s"day-0 cell must be estimating: $c0")
  }

  test("q220 streaming twin: a conversion spanning micro-batches lands; redelivery converges") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_fn_events")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_fn"))
    val h = 3600000000000L // ns
    // user 1 converts across three different micro-batches; user 2 views only
    val batches: Seq[Seq[(Long, Long, String, Long)]] = Seq(
      Seq((1L, 1L, "view", 0L), (2L, 2L, "view", 0L)),
      Seq((3L, 1L, "click", h)),
      Seq((4L, 1L, "purchase", 2 * h)),
    )
    val out = java.nio.file.Files.createTempDirectory("graft-fn").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    val q = graft.streaming.StreamOps.streamingFunnel(
      ms.toDF().toDF("event_id", "user_id", "event_type", "ts"),
      "graft_test_fn", "/tmp/graft_test_fn", out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
      ms.addData(batches.head); q.processAllAvailable() // redelivery
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.funnelCore(
      batches.flatten.toDF("event_id", "user_id", "event_type", "ts")
        .selectExpr("user_id", "event_type", "CAST(ts div 1000 AS BIGINT) AS us"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal the batch funnel incl. the cross-batch conversion: $got vs $ref")
    assert(s.table("graft_test_fn_events").count() === 4L,
      "the event_id guard must absorb the redelivered batch")
  }

  test("q238 streaming twin: conv bit flips across batches; redelivery is an algebraic no-op") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_ab_abconv")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_ab"))
    val out = "/tmp/graft_test_ab/out"
    // batch 1: users 1-6 active, only user 1 converts (value > 200);
    // batch 2: user 2 converts LATE (the bit an additive cell count
    // could never flip), user 1 re-converts (MAX idempotence), user 7
    // arrives with a small purchase (must NOT convert)
    val b1 = (1L to 6L).map(u => (u, "view", 0.0, 0L)) :+ ((1L, "purchase", 500.0, 0L))
    val b2 = Seq((2L, "purchase", 300.0, 0L), (1L, "purchase", 400.0, 0L),
      (7L, "purchase", 50.0, 0L))
    def run(rows: Seq[(Long, String, Double, Long)]) =
      graft.streaming.StreamOps.abTestBatch(
        rows.toDF("user_id", "event_type", "value", "ts"),
        "graft_test_ab", "/tmp/graft_test_ab", out)
    run(b1); run(b2)
    run(b1) // redelivery: greatest() over the same bits, a no-op
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.abTestFromUsers(
      (b1 ++ b2).toDF("user_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .agg(max(expr(graft.queries.TimeSeries.convExprStr)).as("conv")))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal the batch q238 incl. the late conversion: $got vs $ref")
    assert(s.table("graft_test_ab_abconv").count() === 7L,
      "the span state stays at one row per user under redelivery")
    val conv = s.table("graft_test_ab_abconv")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv(1L) === 1L && conv(2L) === 1L && conv(7L) === 0L && conv(3L) === 0L,
      s"late conversion must flip user 2; small purchase must not convert: $conv")
  }

  test("q243 streaming twin: spans grow by MIN/MAX merge; redelivery is an algebraic no-op") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_ch_chspan")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_ch"))
    val day = 86400000000000L // ns
    val out = "/tmp/graft_test_ch/out"
    // user 1's span GROWS across batches (0 → 20: alive at the end);
    // user 2 stays at day 0 (silent ≥ 14 days → churn event);
    // user 3 joins late (censored: lifetime 0 but dend - d1 < 14)
    val b1: Seq[(Long, Long)] = Seq((1L, 0L), (2L, 0L))
    val b2: Seq[(Long, Long)] = Seq((1L, 20L * day), (3L, 20L * day))
    def run(rows: Seq[(Long, Long)]) =
      graft.streaming.StreamOps.churnSurvivalBatch(
        rows.toDF("user_id", "ts"), "graft_test_ch", "/tmp/graft_test_ch", out)
    run(b1); run(b2)
    run(b1) // redelivery: least/greatest over the same days, a no-op
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.churnSurvivalCore(
      (b1 ++ b2).toDF("user_id", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal the batch q243 incl. the grown span: $got vs $ref")
    val spans = s.table("graft_test_ch_chspan")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(spans === Map(1L -> ((0L, 20L)), 2L -> ((0L, 0L)), 3L -> ((20L, 20L))),
      s"MIN/MAX merge must grow user 1's span without touching the others: $spans")
  }

  test("q245/q246 streaming twins: shared conv/span stores serve the multi-arm and log-rank panels") {
    val s = spark
    import s.implicits._
    Seq("graft_test_ma_abconv", "graft_test_lr_chspan")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq("/tmp/graft_test_ma", "/tmp/graft_test_lr").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    // multi-arm: user 2 converts LATE, user 1's re-conversion and the
    // batch-1 redelivery are MAX no-ops (the q238 twin's algebra, q245
    // recompute)
    val ab1 = (1L to 6L).map(u => (u, "view", 0.0, 0L)) :+ ((1L, "purchase", 500.0, 0L))
    val ab2 = Seq((2L, "purchase", 300.0, 0L), (1L, "purchase", 400.0, 0L))
    val maOut = "/tmp/graft_test_ma/out"
    def runMa(rows: Seq[(Long, String, Double, Long)]) =
      graft.streaming.StreamOps.abMultiArmBatch(
        rows.toDF("user_id", "event_type", "value", "ts"),
        "graft_test_ma", "/tmp/graft_test_ma", maOut)
    runMa(ab1); runMa(ab2); runMa(ab1) // redelivery
    val maGot = s.read.parquet(maOut).collect().map(_.toString).sorted.toSeq
    val maRef = graft.queries.TimeSeries.abMultiArmFromUsers(
      (ab1 ++ ab2).toDF("user_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .agg(max(expr(graft.queries.TimeSeries.convExprStr)).as("conv")))
      .collect().map(_.toString).sorted.toSeq
    assert(maGot.nonEmpty && maGot == maRef,
      s"multi-arm snapshot must equal batch q245: $maGot vs $maRef")
    // log-rank: user 1's span grows across batches (the q243 twin's
    // algebra, q246 recompute); redelivery is a least/greatest no-op
    val day = 86400000000000L
    val lr1: Seq[(Long, Long)] = Seq((1L, 0L), (2L, 0L), (3L, 0L))
    val lr2: Seq[(Long, Long)] = Seq((1L, 20L * day), (4L, 20L * day))
    val lrOut = "/tmp/graft_test_lr/out"
    def runLr(rows: Seq[(Long, Long)]) =
      graft.streaming.StreamOps.logRankBatch(
        rows.toDF("user_id", "ts"), "graft_test_lr", "/tmp/graft_test_lr", lrOut)
    runLr(lr1); runLr(lr2); runLr(lr1) // redelivery
    val lrGot = s.read.parquet(lrOut).collect().map(_.toString).sorted.toSeq
    val lrRef = graft.queries.TimeSeries.logRankCore(
      (lr1 ++ lr2).toDF("user_id", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day"))
      .collect().map(_.toString).sorted.toSeq
    assert(lrGot.nonEmpty && lrGot == lrRef,
      s"log-rank snapshot must equal batch q246: $lrGot vs $lrRef")
  }

  test("q248 streaming twin: a journey whose steps span micro-batches lands; redelivery converges") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_tj_tjevents")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_tj"))
    val m = 60000000000L // 1 min in ns
    val out = "/tmp/graft_test_tj/out"
    // user 1's X (batch 1) → Y (batch 1) → purchase (batch 2): the
    // 3-gram exists only once BOTH batches are admitted
    val b1: Seq[(Long, Long, String, Long)] = Seq(
      (1L, 1L, "X", 0L), (2L, 1L, "Y", m), (3L, 2L, "X", 0L))
    val b2: Seq[(Long, Long, String, Long)] = Seq(
      (4L, 1L, "purchase", 2L * m), (5L, 2L, "purchase", m))
    def run(rows: Seq[(Long, Long, String, Long)]) =
      graft.streaming.StreamOps.topJourneysBatch(
        rows.toDF("event_id", "user_id", "event_type", "ts"),
        "graft_test_tj", "/tmp/graft_test_tj", out)
    run(b1); run(b2); run(b1) // redelivery
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.topJourneysCore(
      (b1 ++ b2).toDF("event_id", "user_id", "event_type", "ts")
        .selectExpr("user_id", "event_type", "event_id",
          "CAST(ts div 1000 AS BIGINT) AS us"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal batch q248 incl. the cross-batch path: $got vs $ref")
    val g3 = s.read.parquet(out).filter(col("g") === 3).head()
    assert(g3.getString(1) === "X>Y>purchase" && g3.getLong(2) === 1L,
      s"the cross-batch 3-gram must land: $g3")
    assert(s.table("graft_test_tj_tjevents").count() === 5L,
      "the event_id guard must absorb the redelivery")
  }

  test("q244 streaming twin: a transition spanning micro-batches lands; redelivery converges") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_jt_jevents")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_jt"))
    val m = 60000000000L // 1 min in ns
    val out = "/tmp/graft_test_jt/out"
    // user 1's view (batch 1) → click (batch 2) is a transition NEITHER
    // batch can count locally; user 2's view → view sits 31 min apart,
    // beyond the session gap — no transition
    val b1: Seq[(Long, Long, String, Long)] = Seq(
      (1L, 1L, "view", 0L), (2L, 2L, "view", 0L), (2L, 2L, "view", 0L))
    val b2: Seq[(Long, Long, String, Long)] = Seq(
      (3L, 1L, "click", 5L * m), (4L, 2L, "view", 31L * m))
    def run(rows: Seq[(Long, Long, String, Long)]) =
      graft.streaming.StreamOps.journeyTransitionsBatch(
        rows.toDF("event_id", "user_id", "event_type", "ts"),
        "graft_test_jt", "/tmp/graft_test_jt", out)
    run(b1); run(b2)
    run(b1) // redelivery: the event_id guard absorbs it
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.journeyTransitionsCore(
      (b1 ++ b2).distinct.toDF("event_id", "user_id", "event_type", "ts")
        .selectExpr("user_id", "event_type", "event_id",
          "CAST(ts div 1000 AS BIGINT) AS us"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal the batch q244 incl. the cross-batch transition: $got vs $ref")
    assert(s.table("graft_test_jt_jevents").count() === 4L,
      "the event_id guard must absorb the intra-batch dup and the redelivery")
    val vc = s.read.parquet(out)
      .filter(col("from_type") === "view" && col("to_type") === "click").head()
    assert(vc.getLong(2) === 1L, s"the cross-batch view→click must be counted: $vc")
  }

  test("q222 streaming twin: panel invariant across redelivery, fold, and post-fold replay") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_es_hours")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_es"))
    val h = 3600000000000L // ns
    def ev(rows: Seq[(String, Long)]) =
      rows.toDF("event_type", "ts")
    // two batches BOTH contributing to hour 1 — the case an anti-join
    // guard could never make replay-safe at the additive count grain
    val b1 = ev(Seq(("view", 0L), ("error", 0L), ("view", h), ("view", h)))
    val b2 = ev(Seq(("error", h + 1L), ("view", 2 * h)))
    val out = "/tmp/graft_test_es/out"
    val loc = "/tmp/graft_test_es/state"
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.StreamOps.errorSpikesBatch(b, "graft_test_es", loc, out, id)
    run(b1, 0L); run(b2, 1L)
    run(b1, 0L) // same-batchId redelivery: max-dedup collapses it
    def got() = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.errorSpikesCore(
      b1.unionByName(b2)
        .selectExpr("CAST(ts div 3600000000000 AS BIGINT) AS hour", "event_type")
        .groupBy("hour").agg(count(lit(1)).as("n"),
          sum(expr("CASE WHEN event_type = 'error' THEN CAST(1 AS BIGINT) ELSE 0 END")).as("e")))
      .collect().map(_.toString).sorted.toSeq
    assert(got().nonEmpty && got() == ref,
      s"panel must equal the batch operator after a same-batchId redelivery")
    // fold the deltas: rows collapse (2 batches x 2-3 hours + a replay
    // -> 3 base rows + 2 tombstones), panel invariant
    val (before, after) = graft.util.DeltaStore.compact(
      s, "graft_test_es_hours", Seq("hour"), Seq("n", "e"))
    assert(after === 5 && before > after, s"fold: $before -> $after rows")
    run(b1, 0L) // POST-FOLD replay: the tombstone must absorb it
    assert(got() == ref, "a batch replayed after its fold must not re-count")
    // and genuinely new batches keep landing after the fold
    run(ev(Seq(("error", 3 * h))), 2L)
    val ref2 = graft.queries.TimeSeries.errorSpikesCore(
      b1.unionByName(b2).unionByName(ev(Seq(("error", 3 * h))))
        .selectExpr("CAST(ts div 3600000000000 AS BIGINT) AS hour", "event_type")
        .groupBy("hour").agg(count(lit(1)).as("n"),
          sum(expr("CASE WHEN event_type = 'error' THEN CAST(1 AS BIGINT) ELSE 0 END")).as("e")))
      .collect().map(_.toString).sorted.toSeq
    assert(got() == ref2, "appends keep working after the fold")
  }

  test("q233: the LTV matrix sums planted purchase cents per cohort cell") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, 10L, "purchase", 500L), (2L, 10L, "purchase", 100L),
      (2L, 10L, "view", 999L), // non-purchase value must NOT count
      (1L, 11L, "purchase", 250L),
      (3L, 20L, "view", 0L), // a cohort with zero day-0 revenue
    ).toDF("user_id", "day", "event_type", "cents")
    val out = graft.queries.TimeSeries.revenueCohortsCore(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          Option(r.get(6)).map(_.asInstanceOf[Double])))).toMap
    assert(out((10L, 0L)) === ((2L, 2L, 6.0, 3.0, Some(1.0))), s"${out((10L, 0L))}")
    assert(out((10L, 1L)) === ((1L, 2L, 2.5, 1.25, Some(0.416667))), s"${out((10L, 1L))}")
    assert(out((20L, 0L)) === ((1L, 1L, 0.0, 0.0, None)), s"${out((20L, 0L))}")
    assert(out.size === 3)
  }

  test("q234: weighted routing takes the strong two-hop detour over the weak direct edge") {
    val s = spark
    import s.implicits._
    // l = 1e12/w: 0-1 strong (l=1e6), 1-2 mid (2e6), 0-2 weak (5e6);
    // shortest 0->2 is VIA 1 (3e6 < 5e6) - weighted routing, not hops.
    // node 3 is isolated (w = 0 row brings it into the parcel set).
    val wp = Seq((0, 1, 1000000L), (1, 2, 500000L), (0, 2, 200000L),
      (0, 3, 0L)).toDF("p1", "p2", "w")
    val out = graft.queries.DesignImage.pathMetricsWeightedCore(wp)
      .collect().map(r => r.getInt(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]), r.getLong(2),
          r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
          r.getDouble(5)))).toMap
    assert(out(0) === ((Some(3.0), 2L, 0.444444, Some(2.0), 0.305556)), s"${out(0)}")
    assert(out(1) === ((Some(2.0), 2L, 0.5, Some(2.0), 0.305556)), s"${out(1)}")
    assert(out(2) === ((Some(3.0), 2L, 0.277778, Some(2.0), 0.305556)), s"${out(2)}")
    assert(out(3) === ((None, 0L, 0.0, Some(2.0), 0.305556)), s"isolate: ${out(3)}")
  }

  test("q233 streaming twin: the LTV snapshot equals the batch matrix; redelivered events add no revenue") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_rc_revents")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_rc"))
    val day = 86400000000000L // ns
    val batches: Seq[Seq[(Long, Long, String, Double, Long)]] = Seq(
      Seq((1L, 1L, "purchase", 5.0, 0L), (2L, 2L, "purchase", 1.0, 0L)),
      Seq((3L, 1L, "purchase", 2.5, day)),
    )
    val out = java.nio.file.Files.createTempDirectory("graft-rc").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Double, Long)]
    val q = graft.streaming.StreamOps.streamingRevenueCohorts(
      ms.toDF().toDF("event_id", "user_id", "event_type", "value", "ts"),
      "graft_test_rc", "/tmp/graft_test_rc", out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
      ms.addData(batches.head); q.processAllAvailable() // redelivery
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.revenueCohortsCore(
      batches.flatten.toDF("event_id", "user_id", "event_type", "value", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day",
          "event_type", "CAST(round(value * 100, 0) AS BIGINT) AS cents"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal the batch matrix incl. after a redelivery: $got vs $ref")
    assert(s.table("graft_test_rc_revents").count() === 3L,
      "the event_id guard must absorb the redelivered batch")
  }

  test("q237: stage latencies hit the hand-computed type-7 median and p90") {
    val s = spark
    import s.implicits._
    // 3 users convert view→click at +10/+20/+30 s; only user 1 purchases,
    // 5 µs after the click. Type-7 over {1e7, 2e7, 3e7}: median 2e7,
    // p90 = 2e7 + 0.8·1e7 = 2.8e7.
    val ev = Seq(
      (1L, "view", 0L), (2L, "view", 0L), (3L, "view", 0L),
      (1L, "click", 10000000L), (2L, "click", 20000000L), (3L, "click", 30000000L),
      (1L, "purchase", 10000005L),
    ).toDF("user_id", "event_type", "us")
    val out = graft.queries.TimeSeries.funnelTtcCore(ev)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out(1L) === ((3L, None, None)), s"${out(1L)}")
    assert(out(2L) === ((3L, Some(2.0e7), Some(2.8e7))), s"${out(2L)}")
    assert(out(3L) === ((1L, Some(5.0), Some(5.0))), s"${out(3L)}")
  }

  test("q243: Nelson-Aalen hazard hand-checks on a planted calendar; survivors are censored") {
    val s = spark
    import s.implicits._
    // dend = 100 (u5). Lifetimes: t=0 {u1 churned, u5 censored},
    // t=5 {u2, u3 churned; u4 last seen day 95 — silent only 5 < 14
    // days, CENSORED}. At risk: 5 at t=0, 3 at t=5. Hazards 1/5 and
    // 2/3; cumulative 0.2 and 0.2 + 2/3 = 0.866667 (1e-12 quantized
    // terms, so the sum cannot drift).
    val ud = Seq(
      (1L, 0L),
      (2L, 0L), (2L, 5L),
      (3L, 0L), (3L, 5L),
      (4L, 90L), (4L, 95L),
      (5L, 100L),
    ).toDF("user_id", "day")
    val out = graft.queries.TimeSeries.churnSurvivalCore(ud)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    assert(out(0L) === ((5L, 1L, 1L, 0.2, 0.2)), s"t=0: $out")
    assert(out(5L) === ((3L, 2L, 1L, 0.666667, 0.866667)), s"t=5: $out")
    assert(out.size === 2)
  }

  test("q244: journey grid counts in-session successors only; id order breaks ts ties") {
    val s = spark
    import s.implicits._
    val gap = 1800000000L
    // u1: A→B→A in-session, then a C beyond the 30-min gap (excluded —
    // and C never enters the grid's type set). u2: A→B. u3: A and B at
    // the SAME microsecond — the (us, event_id) order makes it A→B.
    val ev = Seq(
      (1L, "A", 10L, 0L), (1L, "B", 11L, 10L), (1L, "A", 12L, 20L),
      (1L, "C", 13L, 20L + gap + 1L),
      (2L, "A", 20L, 0L), (2L, "B", 21L, 5L),
      (3L, "A", 31L, 0L), (3L, "B", 32L, 0L),
    ).toDF("user_id", "event_type", "event_id", "us")
    val out = graft.queries.TimeSeries.journeyTransitionsCore(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(("A", "B")) === ((3L, Some(1.0))), s"A->B: $out")
    assert(out(("B", "A")) === ((1L, Some(1.0))), s"B->A: $out")
    assert(out(("A", "A")) === ((0L, Some(0.0))), s"A->A: $out")
    assert(out(("B", "B")) === ((0L, Some(0.0))), s"B->B: $out")
    assert(out.size === 4, s"C must stay out of the grid: $out")
  }

  test("q238: a planted 2x2 hits the textbook pooled z and Wald CI; degenerate tables are NULL-z") {
    val s = spark
    import s.implicits._
    // experiment 0: control 40/10, treatment 40/20 — the hand-computed
    // textbook case: p̂ = 30/80 = 0.375,
    //   z = 0.25 / sqrt(0.375·0.625·(1/40 + 1/40)) = 2.309401…,
    //   Wald CI = 0.25 ± 1.96·sqrt(0.25·0.75/40 + 0.5·0.5/40)
    //           = [0.045018, 0.454982]  →  significant, CI excludes 0.
    // experiment 1: both arms fully convert — p̂ = 1 is degenerate, so
    //   z is NULL and significant must read FALSE (the sf0.01 lesson
    //   that forced the big-ticket conversion cut).
    // experiment 2: treatment arm empty — p_t/z/CI all NULL.
    val rows =
      (0 until 40).map(i => (0L, 0L, if (i < 10) 1L else 0L)) ++
        (0 until 40).map(i => (0L, 1L, if (i < 20) 1L else 0L)) ++
        (0 until 10).map(_ => (1L, 0L, 1L)) ++
        (0 until 10).map(_ => (1L, 1L, 1L)) ++
        (0 until 10).map(i => (2L, 0L, if (i < 5) 1L else 0L))
    val out = graft.queries.TimeSeries
      .abTestCore(rows.toDF("experiment", "arm", "conv"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val e0 = out(0L)
    assert(e0.getAs[Double]("p_c") === 0.25 && e0.getAs[Double]("p_t") === 0.5)
    assert(e0.getAs[Double]("lift_abs") === 0.25 &&
      e0.getAs[Double]("lift_rel") === 1.0)
    assert(e0.getAs[Double]("z") === 2.309401, s"z: $e0")
    assert(e0.getAs[Double]("ci_lo") === 0.045018 &&
      e0.getAs[Double]("ci_hi") === 0.454982, s"ci: $e0")
    assert(e0.getAs[Boolean]("significant"), s"e0 must be significant: $e0")
    val e1 = out(1L)
    assert(e1.isNullAt(e1.fieldIndex("z")), s"degenerate z must be NULL: $e1")
    assert(!e1.getAs[Boolean]("significant"), s"NULL z must not flag: $e1")
    val e2 = out(2L)
    assert(e2.getLong(e2.fieldIndex("n_t")) === 0L)
    assert(e2.isNullAt(e2.fieldIndex("p_t")) && e2.isNullAt(e2.fieldIndex("z"))
      && e2.isNullAt(e2.fieldIndex("ci_lo")), s"empty arm must be NULL: $e2")
  }

  test("q245: a planted 3-arm table hits the hand-computed chi-square and per-arm z") {
    val s = spark
    import s.implicits._
    // experiment 0, three arms of 100 users: control converts 10,
    // arm 1 converts 20, arm 2 converts 10. N = 300, X = 40.
    // Hand-computed 2×3 chi-square (E_conv = 100·40/300 = 40/3):
    //   arm0/arm2 each contribute 5/6 + 5/39 = 25/26,
    //   arm1 contributes 10/3 + 20/39 = 50/13,
    //   χ² = 25/26 + 25/26 + 50/13 = 75/13 = 5.769231 (exact fixed
    //   point: 961538461538·2 + 3846153846154 = 5769230769230).
    //   df = 2 closed form p = exp(−χ²/2) ≈ 0.055876 > 0.05 → NOT
    //   significant (the just-above-threshold case).
    // Per-arm pooled z vs control: arm1 p̂ = 30/200 = 0.15,
    //   z = 0.1 / sqrt(0.15·0.85·(1/100 + 1/100)) = 1.980295…;
    //   arm2 identical proportions → z = 0; control row z NULL.
    val rows =
      (0 until 100).map(i => (0L, 0L, if (i < 10) 1L else 0L)) ++
        (0 until 100).map(i => (0L, 1L, if (i < 20) 1L else 0L)) ++
        (0 until 100).map(i => (0L, 2L, if (i < 10) 1L else 0L))
    val out = graft.queries.TimeSeries
      .abMultiArmCore(rows.toDF("experiment", "arm", "conv"))
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(out.size === 3)
    (0L to 2L).foreach { a =>
      assert(out(a).getAs[Long]("n") === 100L)
      assert(out(a).getAs[Double]("chi2") === 5.769231, s"chi2: ${out(a)}")
    }
    assert(out(0L).getAs[Double]("p") === 0.1 && out(1L).getAs[Double]("p") === 0.2)
    assert(out(0L).isNullAt(out(0L).fieldIndex("z_vs_ctrl")),
      "control vs itself must be NULL")
    val z1 = 0.1 / math.sqrt(0.15 * 0.85 * (1.0 / 100 + 1.0 / 100))
    assert(out(1L).getAs[Double]("z_vs_ctrl") === math.rint(z1 * 1e6) / 1e6
      && math.rint(z1 * 1e6) / 1e6 === 1.980295, s"z1: ${out(1L)}")
    assert(out(2L).getAs[Double]("z_vs_ctrl") === 0.0)
    val p = math.rint(math.exp(-(5769230769230L.toDouble / 1e12) / 2) * 1e6) / 1e6
    assert(out(0L).getAs[Double]("chi2_p") === p && p > 0.05, s"p: $p")
    assert(!out(0L).getAs[Boolean]("significant"),
      "p just above 0.05 must not flag")
  }

  test("q246: a planted two-segment calendar hits the hand-computed O/E/V and z") {
    val s = spark
    import s.implicits._
    // dend = 20; churn = silent ≥ 14 days. Segment a = even ids, b = odd.
    //   a: u2 t=1 event, u4 t=3 event, u6 t=20 censored (sets dend)
    //   b: u1 t=1 event, u3 t=5 event, u5 t=14 censored (days 6..20)
    // Steps with events (desc at-risk cumsum): t=1 n=(3,3) d=2,
    // t=3 n=(2,2) d=1, t=5 n=(1,2) d=1. Hand-computed:
    //   E_a = 2·3/6 + 1·2/4 + 1·1/3 = 11/6 → fp 1833333333333,
    //   V   = 2·¼·⅘ + 1·¼·1 + 1·(1/3)(2/3)·1 = 0.4 + 0.25 + 2/9
    //       → fp 400000000000 + 250000000000 + 222222222222 = 872222222222,
    //   O_a = 2, O_b = 2, E_b = 4 − 11/6 = 2.166667.
    val ud = Seq(
      (2L, 0L), (2L, 1L),
      (4L, 0L), (4L, 3L),
      (6L, 0L), (6L, 20L),
      (1L, 0L), (1L, 1L),
      (3L, 0L), (3L, 5L),
      (5L, 6L), (5L, 20L),
    ).toDF("user_id", "day")
    val r = graft.queries.TimeSeries.logRankCore(ud).head()
    assert(r.getAs[Long]("users_a") === 3L && r.getAs[Long]("users_b") === 3L)
    assert(r.getAs[Long]("o_a") === 2L && r.getAs[Long]("o_b") === 2L)
    assert(r.getAs[Double]("e_a") === 1.833333 && r.getAs[Double]("e_b") === 2.166667)
    assert(r.getAs[Double]("var_lr") === 0.872222, s"V: $r")
    val z = (2.0 - 1833333333333L.toDouble / 1e12) /
      math.sqrt(872222222222L.toDouble / 1e12)
    assert(r.getAs[Double]("z") === math.rint(z * 1e6) / 1e6, s"z: $r")
    assert(!r.getAs[Boolean]("significant"), "|z| ≈ 0.18 must not flag")
  }

  test("q248: top converting journey differs from the top pairwise edge; heap plan serves it") {
    val s = spark
    import s.implicits._
    val gap = 1800000000L
    // 5 users convert via X→Y→purchase; 4 via A→purchase; 4 more walk
    // A→B→A→B→A WITHOUT converting (8+8 A↔B edges — the top q244
    // transition by far, but NO converting journey contains it).
    // User 401's purchase sits beyond the session gap from their only
    // other event — cross-session history must not become a journey.
    var id = 0L
    def sess(u: Long, types: Seq[String], step: Long = 10L): Seq[(Long, String, Long, Long)] =
      types.zipWithIndex.map { case (t, i) => id += 1; (u, t, id, i * step) }
    val ev = ((101L to 105L).flatMap(u => sess(u, Seq("X", "Y", "purchase"))) ++
      (201L to 204L).flatMap(u => sess(u, Seq("A", "purchase"))) ++
      (301L to 304L).flatMap(u => sess(u, Seq("A", "B", "A", "B", "A"))) ++
      sess(401L, Seq("Q", "purchase"), gap + 1L))
      .toDF("user_id", "event_type", "event_id", "us")
    // q244's top pairwise edge is A->B (8)...
    val topEdge = graft.queries.TimeSeries.journeyTransitionsCore(ev)
      .orderBy(col("n").desc, col("from_type"), col("to_type")).head()
    assert(topEdge.getString(0) === "A" && topEdge.getString(1) === "B"
      && topEdge.getLong(2) === 8L, s"top edge: $topEdge")
    // ...but the top converting journeys never mention it. The shared
    // spec session does not carry the TopKPerKey extension (Verify/
    // Bench/SparkEntry install it) — install for the plan pin and
    // restore after, as TopKSpec does.
    graft.plans.TopKPerKey.install(s)
    try {
    val tj = graft.queries.TimeSeries.topJourneysCore(ev)
    val out = tj.collect().map(r =>
      (r.getInt(0), r.getInt(3)) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out((2, 1)) === (("Y>purchase", 5L)), s"g=2 top: $out")
    assert(out((2, 2)) === (("A>purchase", 4L)), s"g=2 second: $out")
    assert(out((3, 1)) === (("X>Y>purchase", 5L)), s"g=3 top: $out")
    assert(!out.keySet.exists(_._1 == 4), s"no 4-gram exists: $out")
    assert(!out.values.exists(_._1.contains("Q")),
      s"the cross-session purchase must have no journey: $out")
    // the row_number <= k pattern must rewrite to the heap-only exec
    assert(tj.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      tj.queryExecution.executedPlan.toString.take(800))
    } finally graft.plans.TopKPerKey.uninstall(s)
  }

  test("q235: quintile cutoffs score 5 planted users 1..5 on F and M; equal recency collapses R") {
    val s = spark
    import s.implicits._
    // user i: active the i days ending at day 10 (f = i, r = 0 for all),
    // one purchase of i*100 cents. Type-7 quintile cutoffs over {1..5}
    // are 1.8/2.6/3.4/4.2 -> f and m scores are exactly 1..5; the
    // all-equal recency gives every user r_score 1.
    val ev = (1 to 5).flatMap { i =>
      (0 until i).map(k => (i.toLong, 10L - k, "view", 0L)) :+
        ((i.toLong, 10L, "purchase", i * 100L))
    }.toDF("user_id", "day", "event_type", "cents")
    val out = graft.queries.TimeSeries.rfmSegmentsCore(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    (1 to 5).foreach { i =>
      assert(out((1L, i.toLong, i.toLong)) === ((1L, i * 1.0)),
        s"user $i segment: $out")
    }
    assert(out.size === 5)
  }

  test("q222: a planted 50% error hour spikes against its 10% trailing baseline") {
    val s = spark
    import s.implicits._
    // hours 0..24 run at 10% errors; hour 25 jumps to 50%
    val h = ((0L to 24L).map(i => (i, 100L, 10L)) :+ ((25L, 100L, 50L)))
      .toDF("hour", "n", "e")
    val out = graft.queries.TimeSeries.errorSpikesCore(h)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5),
        Option(r.get(6)).map(_.asInstanceOf[Double]), r.getBoolean(7)))).toMap
    // hour 0 has no baseline: z NULL, never a spike
    assert(out(0L) === ((0L, 0L, None, false)), s"${out(0L)}")
    // a steady mid hour: z = 0, no spike
    assert(out(10L)._3 === Some(0.0) && !out(10L)._4, s"${out(10L)}")
    // hour 25: baseline = hours 1..24 pooled (2400 events, 240 errors)
    val p0 = 240.0 / 2400
    val zExp = BigDecimal((0.5 - p0) / math.sqrt(p0 * (1 - p0) / 100))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(25L) === ((2400L, 240L, Some(zExp), true)), s"${out(25L)}")
  }

  test("q249: a planted skewed split hits the hand-computed chi-square; a zero arm stays on the grid") {
    val s = spark
    import s.implicits._
    // experiment 0: arms 100/120/80 — χ² = 0 + 400/100 + 400/100 = 8,
    //   p = exp(−4) = 0.018316 > 0.001 → healthy (skew alone is not SRM).
    // experiment 1: arms 150/150/0 — the DENSE grid must surface the
    //   empty arm: χ² = 25 + 25 + 100 = 150, p = exp(−75) ≈ 2.7e−33 → SRM.
    val rows =
      (0 until 100).map(_ => (0L, 0L)) ++ (0 until 120).map(_ => (0L, 1L)) ++
        (0 until 80).map(_ => (0L, 2L)) ++
        (0 until 150).map(_ => (1L, 0L)) ++ (0 until 150).map(_ => (1L, 1L))
    val out = graft.queries.TimeSeries.srmCheckCore(rows.toDF("experiment", "arm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.size === 6, s"dense 2x3 grid expected: ${out.keySet}")
    assert(out((0L, 1L)).getAs[Long]("n") === 120L &&
      out((0L, 1L)).getAs[Double]("expected") === 100.0)
    assert(out((0L, 0L)).getAs[Double]("chi2") === 8.0 &&
      out((0L, 0L)).getAs[Double]("chi2_p") === 0.018316 &&
      !out((0L, 0L)).getAs[Boolean]("srm"), s"${out((0L, 0L))}")
    assert(out((1L, 2L)).getAs[Long]("n") === 0L, "the zero arm must be emitted")
    assert(out((1L, 2L)).getAs[Double]("chi2") === 150.0 &&
      out((1L, 2L)).getAs[Double]("chi2_p") === 0.0 &&
      out((1L, 2L)).getAs[Boolean]("srm"), s"${out((1L, 2L))}")
  }

  test("q250: a planted covariate structure hits theta = 1.05 exactly and collapses the variance") {
    val s = spark
    import s.implicits._
    // experiment 0: control (x,y) = (0,10),(10,20),(20,30) — y = x+10;
    // treatment (0,19),(10,30),(20,41) — y = x+20 ± 1. Pooled moments:
    // θ = (6·1920 − 60·150)/(6·1000 − 60²) = 2520/2400 = 1.05 exactly.
    // Raw: lift 10, v̂/n = (33333333 + 40333333)/1e6 → z ≈ 1.165.
    // CUPED: ŷ = 1e6·y − 1050000·x keeps lift at 10 but v̂/n drops to
    // 83333/1e6 per arm → z ≈ 24.5; ρ² = 0.744932 (two-division fp).
    // experiment 1: x CONSTANT — den_t = 0 must degrade to θ = 0 with
    // the CUPED readout ≡ the raw one, not NULL/divide-by-zero.
    val rows = Seq(
      (0L, 0L, 0L, 10L), (0L, 0L, 10L, 20L), (0L, 0L, 20L, 30L),
      (0L, 1L, 0L, 19L), (0L, 1L, 10L, 30L), (0L, 1L, 20L, 41L),
      (1L, 0L, 5L, 10L), (1L, 0L, 5L, 20L),
      (1L, 1L, 5L, 30L), (1L, 1L, 5L, 40L))
    val out = graft.queries.TimeSeries
      .cupedCore(rows.toDF("experiment", "arm", "x", "y"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val e0 = out(0L)
    assert(e0.getAs[Double]("theta") === 1.05, s"theta: $e0")
    assert(e0.getAs[Double]("lift_raw") === 10.0 &&
      e0.getAs[Double]("lift_cuped") === 10.0,
      s"CUPED must not move the lift: $e0")
    val zRaw = math.rint(10.0 / math.sqrt(73666666.0 / 1e6) * 1e6) / 1e6
    val zCup = math.rint(10.0 / math.sqrt(166666.0 / 1e6) * 1e6) / 1e6
    assert(e0.getAs[Double]("z_raw") === zRaw && !e0.getAs[Boolean]("significant_raw"),
      s"z_raw: $e0")
    assert(e0.getAs[Double]("z_cuped") === zCup && e0.getAs[Boolean]("significant_cuped"),
      s"z_cuped: $e0")
    assert(zCup > 20 * zRaw, s"the planted covariate must collapse the SE: $zRaw vs $zCup")
    assert(e0.getAs[Double]("var_reduction") === 0.744932, s"rho2: $e0")
    val e1 = out(1L)
    assert(e1.getAs[Double]("theta") === 0.0 &&
      e1.getAs[Double]("var_reduction") === 0.0, s"constant x: $e1")
    assert(e1.getAs[Double]("lift_raw") === 20.0 &&
      e1.getAs[Double]("lift_cuped") === 20.0 &&
      e1.getAs[Double]("z_raw") === e1.getAs[Double]("z_cuped"),
      s"theta = 0 must make CUPED the identity: $e1")
  }

  test("q251: trigram contexts count in-session triples only and normalize per context") {
    val s = spark
    import s.implicits._
    val gap = 1800000000L
    // u1 session 1: A B C; u1 session 2 (beyond the gap): A B D;
    // u2: A B C. Contexts: (A,B) → C twice, D once — p 2/3 and 1/3;
    // no triple may span the session break.
    val ev = Seq(
      (1L, "A", 10L, 0L), (1L, "B", 11L, 10L), (1L, "C", 12L, 20L),
      (1L, "A", 13L, 20L + gap + 1L), (1L, "B", 14L, 30L + gap + 1L),
      (1L, "D", 15L, 40L + gap + 1L),
      (2L, "A", 20L, 0L), (2L, "B", 21L, 5L), (2L, "C", 22L, 10L),
    ).toDF("user_id", "event_type", "event_id", "us")
    val out = graft.queries.TimeSeries.journeyTrigramsCore(ev)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("A", "B", "C")) === ((2L, 0.666667)), s"ABC: $out")
    assert(out(("A", "B", "D")) === ((1L, 0.333333)), s"ABD: $out")
    assert(out.size === 2, s"no cross-session triple may appear: $out")
  }

  test("q252: the planted q246 calendar yields HR = 13/11 with a CI spanning 1") {
    val s = spark
    import s.implicits._
    // Same planted spans as the q246 spec: O_a = 2, E_a = 11/6 (fp
    // 1833333333333), O_b = 2, E_b = 13/6 — HR = (2/E_a)/(2/E_b)
    // = 13/11 ≈ 1.181818; se(ln HR) = sqrt(6/11 + 6/13) ≈ 1.0035, so
    // the 95% CI spans 1 by a mile → not significant. The calendar's
    // end-gaps are all 0 or ≥ 14, so q252's 1-day early-churn window
    // and q246's 14-day product window classify IDENTICALLY here —
    // asserted below, pinning the shared lrFold kernel across both
    // window settings.
    val ud = Seq(
      (2L, 0L), (2L, 1L), (4L, 0L), (4L, 3L), (6L, 0L), (6L, 20L),
      (1L, 0L), (1L, 1L), (3L, 0L), (3L, 5L), (5L, 6L), (5L, 20L),
    ).toDF("user_id", "day")
    val spans = ud.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
    assert(graft.queries.TimeSeries.hazardRatioFromSpans(spans, 14L)
      .collect().map(_.toString).toSeq ===
      graft.queries.TimeSeries.hazardRatioFromSpans(spans, 1L)
        .collect().map(_.toString).toSeq,
      "the planted calendar must make the 1- and 14-day windows agree")
    val r = graft.queries.TimeSeries.hazardRatioCore(ud).head()
    assert(r.getAs[Long]("o_a") === 2L && r.getAs[Long]("o_b") === 2L)
    assert(r.getAs[Double]("e_a") === 1.833333 && r.getAs[Double]("e_b") === 2.166667)
    val ea = 1833333333333L.toDouble / 1e12
    val eb = (4L * 1000000000000L - 1833333333333L).toDouble / 1e12
    val hr = (2.0 / ea) / (2.0 / eb)
    val se = math.sqrt(1e12 / 1833333333333L.toDouble + 1e12 / 2166666666667L.toDouble)
    assert(r.getAs[Double]("hr") === math.rint(hr * 1e6) / 1e6, s"hr: $r")
    assert(math.rint(hr * 1e6) / 1e6 === 1.181818, s"hr: $r")
    assert(r.getAs[Double]("ci_lo") === math.rint(math.exp(math.log(hr) - 1.96 * se) * 1e6) / 1e6 &&
      r.getAs[Double]("ci_hi") === math.rint(math.exp(math.log(hr) + 1.96 * se) * 1e6) / 1e6,
      s"ci: $r")
    assert(r.getAs[Double]("ci_lo") < 1.0 && r.getAs[Double]("ci_hi") > 1.0 &&
      !r.getAs[Boolean]("significant"), s"CI must span 1: $r")
  }

  test("q253: the q238 textbook table is significant yet UNDERPOWERED; a big test clears its MDE") {
    val s = spark
    import s.implicits._
    // experiment 0: the q238 spec's 40/10 vs 40/20 — p̂ = 0.375,
    //   MDE = 2.8016·sqrt(0.375·0.625·(1/40+1/40)) ≈ 0.3033 > lift 0.25
    //   → detectable = false: the winner's-curse case (q238 flags it
    //   significant, q253 says the test couldn't reliably see < 30 pts).
    // experiment 1: 1000/100 vs 1000/300 — p̂ = 0.2, MDE ≈ 0.0501 <
    //   lift 0.2 → detectable.
    // experiment 2: both arms fully convert — p̂ = 1 degenerates the SE:
    //   mde NULL, detectable false.
    val rows =
      (0 until 40).map(i => (0L, 0L, if (i < 10) 1L else 0L)) ++
        (0 until 40).map(i => (0L, 1L, if (i < 20) 1L else 0L)) ++
        (0 until 1000).map(i => (1L, 0L, if (i < 100) 1L else 0L)) ++
        (0 until 1000).map(i => (1L, 1L, if (i < 300) 1L else 0L)) ++
        (0 until 10).map(_ => (2L, 0L, 1L)) ++
        (0 until 10).map(_ => (2L, 1L, 1L))
    val out = graft.queries.TimeSeries
      .abMdeCore(rows.toDF("experiment", "arm", "conv"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val e0 = out(0L)
    val mde0 = math.rint(2.8016 * math.sqrt(0.375 * 0.625 * (1.0 / 40 + 1.0 / 40)) * 1e6) / 1e6
    assert(e0.getAs[Double]("p_pool") === 0.375 && e0.getAs[Double]("mde_abs") === mde0, s"$e0")
    assert(e0.getAs[Double]("mde_rel") === math.rint(mde0 / 0.25 * 1e6) / 1e6, s"$e0")
    assert(e0.getAs[Double]("lift_abs") === 0.25 && mde0 > 0.25 &&
      !e0.getAs[Boolean]("detectable"), s"underpowered: $e0")
    val e1 = out(1L)
    val mde1 = math.rint(2.8016 * math.sqrt(0.2 * 0.8 * (1.0 / 1000 + 1.0 / 1000)) * 1e6) / 1e6
    assert(e1.getAs[Double]("mde_abs") === mde1 && mde1 < 0.2 &&
      e1.getAs[Boolean]("detectable"), s"powered: $e1")
    val e2 = out(2L)
    assert(e2.isNullAt(e2.fieldIndex("mde_abs")) && !e2.getAs[Boolean]("detectable"),
      s"degenerate: $e2")
  }

  test("q249/q253 streaming twins ride the shared conversion store; redelivery is a no-op") {
    val s = spark
    import s.implicits._
    Seq("graft_test_srm_abconv", "graft_test_mde_abconv")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq("/tmp/graft_test_srm", "/tmp/graft_test_mde").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val b1 = (1L to 6L).map(u => (u, "view", 0.0, 0L)) :+ ((1L, "purchase", 500.0, 0L))
    val b2 = Seq((7L, "view", 0.0, 0L), (2L, "purchase", 300.0, 0L))
    val srmOut = "/tmp/graft_test_srm/out"
    def runSrm(rows: Seq[(Long, String, Double, Long)]) =
      graft.streaming.StreamOps.srmCheckBatch(
        rows.toDF("user_id", "event_type", "value", "ts"),
        "graft_test_srm", "/tmp/graft_test_srm", srmOut)
    runSrm(b1); runSrm(b2); runSrm(b1) // redelivery
    val srmGot = s.read.parquet(srmOut).collect().map(_.toString).sorted.toSeq
    val srmRef = graft.queries.TimeSeries.srmCheckFromUsers(
      (b1 ++ b2).toDF("user_id", "event_type", "value", "ts")
        .select("user_id").distinct())
      .collect().map(_.toString).sorted.toSeq
    assert(srmGot.nonEmpty && srmGot == srmRef,
      s"SRM snapshot must equal batch q249: $srmGot vs $srmRef")
    val mdeOut = "/tmp/graft_test_mde/out"
    def runMde(rows: Seq[(Long, String, Double, Long)]) =
      graft.streaming.StreamOps.abMdeBatch(
        rows.toDF("user_id", "event_type", "value", "ts"),
        "graft_test_mde", "/tmp/graft_test_mde", mdeOut)
    runMde(b1); runMde(b2); runMde(b1) // redelivery
    val mdeGot = s.read.parquet(mdeOut).collect().map(_.toString).sorted.toSeq
    val mdeRef = graft.queries.TimeSeries.abMdeFromUsers(
      (b1 ++ b2).toDF("user_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .agg(max(expr(graft.queries.TimeSeries.convExprStr)).as("conv")))
      .collect().map(_.toString).sorted.toSeq
    assert(mdeGot.nonEmpty && mdeGot == mdeRef,
      s"MDE snapshot must equal batch q253: $mdeGot vs $mdeRef")
  }

  test("q252 streaming twin rides the span store; a span growing across batches moves the HR") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_hr_chspan")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_hr"))
    val day = 86400000000000L
    val out = "/tmp/graft_test_hr/out"
    val hr1: Seq[(Long, Long)] = Seq((1L, 0L), (2L, 0L), (3L, 0L))
    val hr2: Seq[(Long, Long)] = Seq((1L, 20L * day), (4L, 20L * day))
    def run(rows: Seq[(Long, Long)]) =
      graft.streaming.StreamOps.hazardRatioBatch(
        rows.toDF("user_id", "ts"), "graft_test_hr", "/tmp/graft_test_hr", out)
    run(hr1); run(hr2); run(hr1) // redelivery
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.hazardRatioCore(
      (hr1 ++ hr2).toDF("user_id", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"HR snapshot must equal batch q252 incl. the grown span: $got vs $ref")
  }

  test("q251 streaming twin: a triple spanning micro-batches lands; redelivery converges") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_jg_jgevents")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_jg"))
    val m = 60000000000L // 1 min in ns
    val out = "/tmp/graft_test_jg/out"
    // u1's A (batch 1) → B (batch 1) → C (batch 2): the triple exists
    // only once both batches are admitted — neither sees it alone
    val b1: Seq[(Long, Long, String, Long)] = Seq(
      (1L, 1L, "A", 0L), (2L, 1L, "B", m))
    val b2: Seq[(Long, Long, String, Long)] = Seq((3L, 1L, "C", 2L * m))
    def run(rows: Seq[(Long, Long, String, Long)]) =
      graft.streaming.StreamOps.journeyTrigramsBatch(
        rows.toDF("event_id", "user_id", "event_type", "ts"),
        "graft_test_jg", "/tmp/graft_test_jg", out)
    run(b1); run(b2); run(b1) // redelivery
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.journeyTrigramsCore(
      (b1 ++ b2).toDF("event_id", "user_id", "event_type", "ts")
        .selectExpr("user_id", "event_type", "event_id",
          "CAST(ts div 1000 AS BIGINT) AS us"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal batch q251 incl. the cross-batch triple: $got vs $ref")
    val abc = s.read.parquet(out).head()
    assert(abc.getString(0) === "A" && abc.getString(1) === "B" &&
      abc.getString(2) === "C" && abc.getLong(3) === 1L, s"$abc")
    assert(s.table("graft_test_jg_jgevents").count() === 3L,
      "the event_id guard must absorb the redelivery")
  }

  test("q254: the L30 histogram bins planted users by active days; empty bins stay on the grid") {
    val s = spark
    import s.implicits._
    // calendar ends at day 100. user 1: 3 days in-window; user 2: 1
    // day; user 3: 1 in-window day (its day-60 activity is OUTSIDE the
    // trailing 30 and must not count); user 4: 2 days. Bins: 1→2
    // users, 2→1, 3→1, all other 27 bins explicit zeros.
    val ud = Seq(
      (1L, 100L), (1L, 99L), (1L, 80L),
      (2L, 95L), (2L, 95L), // same-day dup must collapse
      (3L, 60L), (3L, 72L),
      (4L, 90L), (4L, 91L),
    ).toDF("user_id", "day")
    val out = graft.queries.TimeSeries.powerCurveCore(ud)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size === 30, s"dense 1..30 grid expected: ${out.keySet}")
    assert(out(1L) === ((2L, Some(0.5))), s"bin 1: $out")
    assert(out(2L) === ((1L, Some(0.25))) && out(3L) === ((1L, Some(0.25))), s"$out")
    assert(out(4L) === ((0L, Some(0.0))) && out(30L) === ((0L, Some(0.0))),
      s"empty bins must surface: $out")
  }

  test("q255: the daily split separates first-ever days from returns; quiet days read zero") {
    val s = spark
    import s.implicits._
    // day 10: users 1,2 both new. day 11: quiet (must appear as zeros).
    // day 12: user 1 returns, user 3 is new -> returning_share 0.5.
    val ud = Seq(
      (1L, 10L), (2L, 10L),
      (1L, 12L), (3L, 12L), (3L, 12L), // same-day dup must collapse
    ).toDF("user_id", "day")
    val out = graft.queries.TimeSeries.newReturningCore(ud)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out(10L) === ((2L, 2L, 0L, Some(0.0))), s"day 10: $out")
    assert(out(11L) === ((0L, 0L, 0L, None)), s"quiet day: $out")
    assert(out(12L) === ((2L, 1L, 1L, Some(0.5))), s"day 12: $out")
    assert(out.size === 3)
  }

  test("q254/q255 streaming twins ride the day-set store; a late batch re-slices the window") {
    val s = spark
    import s.implicits._
    Seq("graft_test_pc_udays", "graft_test_nr_udays")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq("/tmp/graft_test_pc", "/tmp/graft_test_nr").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val day = 86400000000000L
    // batch 2 extends the calendar by 40 days: user 1's batch-1 days
    // fall OUT of the trailing 30 — the window re-slice only a full
    // day-set state supports. For q255, user 1's batch-2 activity must
    // read RETURNING against its batch-1 first day.
    val b1: Seq[(Long, Long)] = Seq((1L, 0L), (1L, day), (2L, day))
    val b2: Seq[(Long, Long)] = Seq((1L, 41L * day), (3L, 41L * day))
    def runPc(rows: Seq[(Long, Long)]) =
      graft.streaming.StreamOps.powerCurveBatch(
        rows.toDF("user_id", "ts"), "graft_test_pc", "/tmp/graft_test_pc",
        "/tmp/graft_test_pc/out")
    def runNr(rows: Seq[(Long, Long)]) =
      graft.streaming.StreamOps.newReturningBatch(
        rows.toDF("user_id", "ts"), "graft_test_nr", "/tmp/graft_test_nr",
        "/tmp/graft_test_nr/out")
    runPc(b1); runPc(b2); runPc(b1) // redelivery: set-union no-op
    runNr(b1); runNr(b2); runNr(b1)
    val toDays = (rows: Seq[(Long, Long)]) => rows.toDF("user_id", "ts")
      .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day")
    val pcGot = s.read.parquet("/tmp/graft_test_pc/out")
      .collect().map(_.toString).sorted.toSeq
    val pcRef = graft.queries.TimeSeries.powerCurveCore(toDays(b1 ++ b2))
      .collect().map(_.toString).sorted.toSeq
    assert(pcGot.nonEmpty && pcGot == pcRef,
      s"L30 snapshot must equal batch q254 after the re-slice: $pcGot vs $pcRef")
    val nrGot = s.read.parquet("/tmp/graft_test_nr/out")
      .collect().map(_.toString).sorted.toSeq
    val nrRef = graft.queries.TimeSeries.newReturningCore(toDays(b1 ++ b2))
      .collect().map(_.toString).sorted.toSeq
    assert(nrGot.nonEmpty && nrGot == nrRef,
      s"split snapshot must equal batch q255: $nrGot vs $nrRef")
    // the re-slice dropped the early days: only the two day-41 actives
    // remain in the L30 window (user 2 leaves the histogram entirely)
    val pc = s.read.parquet("/tmp/graft_test_pc/out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pc(1L) === 2L && pc.values.sum === 2L,
      s"2 users at 1 in-window day after the shift: $pc")
    // ...and user 1's day-41 activity reads returning, not new
    val nr = s.read.parquet("/tmp/graft_test_nr/out")
      .filter(col("day") === 41L).head()
    assert(nr.getLong(1) === 2L && nr.getLong(2) === 1L && nr.getLong(3) === 1L,
      s"user 1 must read returning on day 41: $nr")
  }

  test("q250 streaming twin: a late day MOVES the calendar midpoint and reclassifies pre/post") {
    val s = spark
    import s.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_cup_cupevents")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_test_cup"))
    val day = 86400000000000L
    val out = "/tmp/graft_test_cup/out"
    // batch 1 spans days 0..10 (midpoint 5): user 1's day-8 purchase
    // is POST. batch 2 extends the calendar to day 30 (midpoint 15):
    // that same purchase must flip to PRE — the recompute the
    // event-grain state exists to make possible.
    val b1: Seq[(Long, Long, String, Double, Long)] = Seq(
      (1L, 1L, "view", 0.0, 0L),
      (2L, 1L, "purchase", 120.0, 8L * day),
      (3L, 2L, "view", 0.0, 10L * day))
    val b2: Seq[(Long, Long, String, Double, Long)] = Seq(
      (4L, 1L, "purchase", 250.0, 30L * day),
      (5L, 2L, "purchase", 80.0, 16L * day))
    def run(rows: Seq[(Long, Long, String, Double, Long)]) =
      graft.streaming.StreamOps.cupedBatch(
        rows.toDF("event_id", "user_id", "event_type", "value", "ts"),
        "graft_test_cup", "/tmp/graft_test_cup", out)
    run(b1)
    val mid1 = s.read.parquet(out).collect()
    assert(mid1.nonEmpty, "batch 1 must produce a panel")
    run(b2); run(b1) // redelivery
    val got = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val ref = graft.queries.TimeSeries.cupedFromDays(
      (b1 ++ b2).toDF("event_id", "user_id", "event_type", "value", "ts")
        .selectExpr("user_id", "CAST(ts div 86400000000000 AS BIGINT) AS day",
          "event_type", "CAST(round(value * 100, 0) AS BIGINT) AS cents"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == ref,
      s"snapshot must equal batch q250 after the midpoint shift: $got vs $ref")
    assert(s.table("graft_test_cup_cupevents").count() === 5L,
      "the event_id guard must absorb the redelivery")
  }
}
