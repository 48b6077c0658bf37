package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.glm.{BetaStore, GlmOps, LinAlg}

/** GLM queries (SURVEY.md §2.6 M1-M5): per-group OLS from exact moments,
  * residuals, p-values, and the mass-univariate shared-design GLM with a
  * driver-computed fixed-point pinv broadcast to the oracle as literal
  * constants — both engines consume the SAME integers, so betas are exact.
  */
object Glm extends QueryModule {

  // ---- q30: per-group simple OLS (beta0, beta1, t1) ----------------------

  def olsGroup(s: SparkSession, d: String): DataFrame =
    GlmOps
      .simpleOLS(lineitem(s, d), Seq("l_returnflag"), "l_extendedprice", "l_quantity")
      .orderBy("l_returnflag")

  private val olsGroupSql =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag
      |), c AS (
      |  SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
      |    (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS beta1
      |  FROM m
      |), c2 AS (
      |  SELECT *, (sy - beta1 * sx) / n AS beta0 FROM c
      |), c3 AS (
      |  SELECT *, syy - beta0 * sy - beta1 * sxy AS sse FROM c2
      |), c4 AS (
      |  SELECT *, sqrt((sse / (n - 2)) * n / (n * sxx - sx * sx)) AS se1 FROM c3
      |)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n, beta0, beta1,
      |  CASE WHEN se1 > 0 THEN beta1 / se1 END AS t1
      |FROM c4
      |ORDER BY l_returnflag""".stripMargin

  // ---- q31: per-row residuals of the group fit ---------------------------

  def olsResiduals(s: SparkSession, d: String): DataFrame =
    GlmOps
      .residuals(lineitem(s, d), Seq("l_returnflag"), "l_extendedprice", "l_quantity")
      .filter(col("l_orderkey") <= 500)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("resid"))
      .orderBy("l_orderkey", "l_linenumber")

  private val olsResidualsSql =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag
      |), c AS (
      |  SELECT l_returnflag, sx, sy, n,
      |    (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) AS beta1
      |  FROM m
      |), coef AS (
      |  SELECT l_returnflag, beta1, (sy - beta1 * sx) / n AS beta0 FROM c
      |)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
      |  l.l_extendedprice - (coef.beta0 + coef.beta1 * l.l_quantity) AS resid
      |FROM lineitem l JOIN coef ON l.l_returnflag = coef.l_returnflag
      |WHERE l.l_orderkey <= 500
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin

  // ---- q32: slope p-values (t CDF — no SQL oracle, rows-only check) ------

  def olsPValues(s: SparkSession, d: String): DataFrame =
    GlmOps
      .simpleOLSWithP(lineitem(s, d), Seq("l_returnflag"), "l_extendedprice", "l_quantity")
      .orderBy("l_returnflag")

  // ---- q33: mass-univariate GLM betas (shared design, fixed-point pinv) --

  /** 6-hour-bucket design over the events month: n=120 timepoints,
    * k=3 regressors (intercept, centered linear trend, first DCT cosine —
    * the ssm_loop poly/DCT shape, ssm_loop.py:55-56). */
  private[graft] val N = 120
  private[graft] val design: LinAlg.Mat =
    Array.tabulate(N, 3) { (t, j) =>
      j match {
        case 0 => 1.0
        case 1 => (t - (N - 1) / 2.0) / 100.0
        case 2 => math.cos(math.Pi * (2 * t + 1) / (2.0 * N))
      }
    }

  private val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val bucketUs = 21600000000L // 6 hours

  def massGlmBetas(s: SparkSession, d: String): DataFrame = {
    // `ts div 1000 - baseUs >= 0` BEFORE bucketing: Spark `div` truncates
    // toward zero while the oracle's `//` floors, so a pre-baseUs event
    // would land in bucket 0 here but bucket −1 (excluded by the design
    // join) in the oracle. On nonnegative differences the two agree. The
    // design's t < N filter also runs before massBetas' (g, t) fold, so
    // the folded series is at most |g|·N rows.
    val series = events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select(
        (col("user_id") % 20).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $bucketUs").as("t"),
        col("value").cast("decimal(18,2)").as("y_dec"),
      ).filter(col("t") < N)
    GlmOps.massBetas(series, design, "g").orderBy("g", "j")
      .coalesce(1) // one output file: see DesignOps.boxcar
  }

  private def massGlmSql: String = {
    val p = LinAlg.pinv(design)
    val triples = for {
      j <- p.indices
      t <- p(j).indices
    } yield s"($t, $j, ${math.rint(p(j)(t) * GlmOps.Scale).toLong})"
    s"""WITH w(t, j, w) AS (VALUES ${triples.mkString(", ")}),
       |ser AS (
       |  SELECT user_id % 20 AS g,
       |    (epoch_us(ts) - $baseUs) // $bucketUs AS t,
       |    SUM(CAST(value AS DECIMAL(18,2))) AS y
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT ser.g, w.j, CAST(SUM(w.w * ser.y) AS DOUBLE) / 1000000000.0 AS beta
       |FROM ser JOIN w ON w.t = ser.t
       |GROUP BY ser.g, w.j
       |ORDER BY g, j""".stripMargin
  }

  // ---- q60: mass-GLM t/σ on a FIXED design — the hash-checked M2/M4 -----
  // mass-path row (ssm_loop.py:91-97). X is the q33 literal design, so the
  // pinv, X, and (XᵀX)⁻¹ diagonal are the SAME integers/doubles in both
  // engines, and the algebraic-SSE formula (SSE = Σy² − βᵀXᵀy, see
  // GlmOps.massGLM) is mirrored op-for-op in SQL.

  def massGlmStats(s: SparkSession, d: String): DataFrame = {
    // raw-difference guard before bucketing: see massGlmBetas
    val series = events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select(
        (col("user_id") % 20).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $bucketUs").as("t"),
        col("value").cast("decimal(18,2)").as("y_dec"),
      ).groupBy("g", "t").agg(sum("y_dec").as("y_dec"))
    // the PACKED path (bit-identical to massGLM, spec-pinned) — this very
    // query's hash match against the classic-arithmetic SQL oracle is the
    // end-to-end proof of that equivalence
    GlmOps.massGLMPacked(s, series, design, "g")
      .select(col("g"), col("j"),
        round(col("beta"), 6).as("beta"),
        round(col("sigma"), 6).as("sigma"),
        round(col("t_stat"), 6).as("t_stat"))
      .orderBy("g", "j")
  }

  /** The q60 chain through gj2 (unrounded betas) and sig (σ) — shared
    * verbatim by q60's t-stat tail and q141's contrast tail, so both
    * oracles replay the IDENTICAL fixed-design fit. */
  private def fixedDesignStatCtes: String = {
    val p = LinAlg.pinv(design)
    val k = design(0).length
    val dof = (N - k).toDouble
    val quads = for {
      t <- design.indices
      j <- 0 until k
    } yield s"($t, $j, ${math.rint(p(j)(t) * GlmOps.Scale).toLong}, " +
      s"${math.rint(design(t)(j) * GlmOps.Scale).toLong})"
    s"""w(t, j, w, wx) AS (VALUES ${quads.mkString(", ")}),
       |ser AS (
       |  SELECT user_id % 20 AS g,
       |    (epoch_us(ts) - $baseUs) // $bucketUs AS t,
       |    SUM(CAST(value AS DECIMAL(18,2))) AS y
       |  FROM events GROUP BY 1, 2
       |),
       |gj AS (
       |  SELECT ser.g, w.j,
       |    SUM(w.w * ser.y) AS s,
       |    SUM(w.wx * ser.y) AS us,
       |    SUM(ser.y * ser.y) AS syy
       |  FROM ser JOIN w ON w.t = ser.t
       |  GROUP BY ser.g, w.j
       |),
       |gj2 AS (
       |  SELECT g, j,
       |    CAST(s AS DOUBLE) / ${GlmOps.Scale}.0 AS beta,
       |    CAST(us AS DOUBLE) / ${GlmOps.Scale}.0 AS u,
       |    syy
       |  FROM gj
       |),
       |grp AS (
       |  SELECT g,
       |    CAST(MAX(syy) AS DOUBLE) AS syyd,
       |    CAST(SUM(CAST(round(beta * u, 6) AS DECIMAL(38,6))) AS DOUBLE) AS bxty
       |  FROM gj2 GROUP BY g
       |),
       |sig AS (
       |  SELECT g, sqrt(greatest(syyd - bxty, 0.0) / $dof) AS sigma FROM grp
       |)""".stripMargin
  }

  private def massGlmStatsSql: String = {
    val diag = LinAlg.xtxInvDiag(design)
    val cjj = diag.zipWithIndex.map { case (v, j) => s"($j, $v)" }
    s"""WITH $fixedDesignStatCtes,
       |cj(j, cjj) AS (VALUES ${cjj.mkString(", ")})
       |SELECT gj2.g AS g, CAST(gj2.j AS BIGINT) AS j,
       |  round(beta, 6) AS beta,
       |  round(sigma, 6) AS sigma,
       |  round(beta / (sigma * sqrt(cj.cjj)), 6) AS t_stat
       |FROM gj2
       |JOIN sig ON sig.g = gj2.g
       |JOIN cj ON cj.j = gj2.j
       |ORDER BY gj2.g, gj2.j""".stripMargin
  }

  // ---- q70: mass-GLM residuals on the fixed design (M4 at mass scale) ----
  // ssm_loop.py:97 `residual`: per-(g, t) y − X(t)·β, betas on the packed
  // path. The oracle recomputes the betas via the q33 formulation, packs
  // them into a per-group list, and dots the SAME n×k design literal.

  def massGlmResiduals(s: SparkSession, d: String): DataFrame = {
    // raw-difference guard before bucketing: see massGlmBetas
    val series = events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select(
        (col("user_id") % 20).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $bucketUs").as("t"),
        col("value").cast("decimal(18,2)").as("y_dec"),
      ).groupBy("g", "t").agg(sum("y_dec").as("y_dec"))
    GlmOps.massResiduals(s, series, design, "g")
      .withColumn("resid", round(col("resid"), 6))
      .orderBy("g", "t")
  }

  private def massGlmResidualsSql: String = {
    val p = LinAlg.pinv(design)
    val triples = for {
      j <- p.indices
      t <- p(j).indices
    } yield s"($t, $j, ${math.rint(p(j)(t) * GlmOps.Scale).toLong})"
    val xRows = design.zipWithIndex
      .map { case (row, t) => s"($t, [${row.mkString(", ")}])" }
    s"""WITH w(t, j, w) AS (VALUES ${triples.mkString(", ")}),
       |x(t, xr) AS (VALUES ${xRows.mkString(", ")}),
       |ser AS (
       |  SELECT user_id % 20 AS g,
       |    (epoch_us(ts) - $baseUs) // $bucketUs AS t,
       |    SUM(CAST(value AS DECIMAL(18,2))) AS y
       |  FROM events GROUP BY 1, 2
       |),
       |beta AS (
       |  SELECT ser.g, w.j, CAST(SUM(w.w * ser.y) AS DOUBLE) / 1000000000.0 AS beta
       |  FROM ser JOIN w ON w.t = ser.t
       |  GROUP BY ser.g, w.j
       |),
       |bl AS (SELECT g, list(beta ORDER BY j) AS bs FROM beta GROUP BY g)
       |SELECT ser.g, ser.t,
       |  round(CAST(ser.y AS DOUBLE) -
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(len(x.xr)), i -> x.xr[i+1] * bl.bs[i+1])),
       |      (acc, v) -> acc + v), 6) AS resid
       |FROM ser
       |JOIN x ON x.t = ser.t
       |JOIN bl ON bl.g = ser.g
       |WHERE ser.t >= 0 AND ser.t < $N
       |ORDER BY ser.g, ser.t""".stripMargin
  }

  // ---- q103: multi-RUN mass GLM on FIXED per-run designs -----------------
  // The hash-checked half of the multi-subject flagship claim (q104 is the
  // data-dependent-design half): 4 runs (weeks of the events month at
  // 1-hour TR), each with its OWN design matrix — intercept, trend, DCT1,
  // and a run-SHIFTED daily boxcar — all fitted in ONE
  // massGLMPackedPerKey query. The designs are data-independent literals,
  // so the oracle replays every run's fixed-point pinv/X/(XᵀX)⁻¹ as
  // VALUES and mirrors the q60 CTE chain with `run` added to every key.

  private[graft] val Runs = 4
  private[graft] val Nr = 168 // hours per week
  private val hourUs = 3600000000L

  /** Run r's fixed design: j0 intercept, j1 centered trend, j2 DCT1, j3 a
    * daily work-hours boxcar shifted by r hours — distinct per run, so a
    * per-key fit is actually exercised, yet fully data-independent. */
  private[graft] def runDesign(r: Int): LinAlg.Mat =
    Array.tabulate(Nr, 4) { (t, j) =>
      j match {
        case 0 => 1.0
        case 1 => (t - (Nr - 1) / 2.0) / Nr
        case 2 => math.cos(math.Pi * (2 * t + 1) / (2.0 * Nr))
        case 3 => if (t % 24 >= 8 + r && t % 24 < 16 + r) 1.0 else 0.0
      }
    }

  def multiRunGlm(s: SparkSession, d: String): DataFrame = {
    val series = events(s, d)
      // guard on the RAW difference, mirroring the oracle's WHERE: trunc
      // div would map an event up to 1 h before baseUs to (run 0, t 0)
      // while the floor-div oracle excludes it (see massGlmBetas)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select(
        (col("user_id") % 10).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $hourUs").as("th"),
        col("value").cast("decimal(18,2)").as("y_dec"))
      .filter(col("th") < Runs * Nr)
      .select(expr(s"th div $Nr").as("run"), expr(s"th % $Nr").as("t"),
        col("g"), col("y_dec"))
      .groupBy("run", "g", "t").agg(sum("y_dec").as("y_dec"))
    val designs = (0 until Runs).map(r => (r.toLong, runDesign(r)))
    GlmOps.massGLMPackedPerKey(s, series, designs, "run", "g")
      .select(col("run"), col("g"), col("j"),
        round(col("beta"), 6).as("beta"),
        round(col("sigma"), 6).as("sigma"),
        round(col("t_stat"), 6).as("t_stat"))
      .orderBy("run", "g", "j")
  }

  /** The q103 first-level chain through gj2 (per-(run, g, j) unrounded
    * betas) — shared verbatim by q103's tail (σ/t) and q140's
    * second-level aggregation, so both oracles replay the IDENTICAL
    * first-level fit. */
  private def multiRunBetaCtes: String = {
    val k = 4
    val quads = for {
      r <- 0 until Runs
      x = runDesign(r)
      p = LinAlg.pinv(x)
      t <- 0 until Nr
      j <- 0 until k
    } yield s"($r, $t, $j, ${math.rint(p(j)(t) * GlmOps.Scale).toLong}, " +
      s"${math.rint(x(t)(j) * GlmOps.Scale).toLong})"
    s"""w(run, t, j, w, wx) AS (VALUES ${quads.mkString(", ")}),
       |ser AS (
       |  SELECT user_id % 10 AS g,
       |    ((epoch_us(ts) - $baseUs) // $hourUs) // $Nr AS run,
       |    ((epoch_us(ts) - $baseUs) // $hourUs) % $Nr AS t,
       |    SUM(CAST(value AS DECIMAL(18,2))) AS y
       |  FROM events
       |  WHERE (epoch_us(ts) - $baseUs) >= 0
       |    AND (epoch_us(ts) - $baseUs) // $hourUs < ${Runs * Nr}
       |  GROUP BY 1, 2, 3
       |),
       |gj AS (
       |  SELECT ser.g, ser.run, w.j,
       |    SUM(w.w * ser.y) AS s,
       |    SUM(w.wx * ser.y) AS us,
       |    SUM(ser.y * ser.y) AS syy
       |  FROM ser JOIN w ON w.run = ser.run AND w.t = ser.t
       |  GROUP BY 1, 2, 3
       |),
       |gj2 AS (
       |  SELECT g, run, j,
       |    CAST(s AS DOUBLE) / ${GlmOps.Scale}.0 AS beta,
       |    CAST(us AS DOUBLE) / ${GlmOps.Scale}.0 AS u,
       |    syy
       |  FROM gj
       |)""".stripMargin
  }

  private def multiRunGlmSql: String = {
    val k = 4
    val dof = (Nr - k).toDouble
    val cjj = for {
      r <- 0 until Runs
      (v, j) <- LinAlg.xtxInvDiag(runDesign(r)).zipWithIndex
    } yield s"($r, $j, $v)"
    s"""WITH $multiRunBetaCtes,
       |cj(run, j, cjj) AS (VALUES ${cjj.mkString(", ")}),
       |grp AS (
       |  SELECT g, run,
       |    CAST(MAX(syy) AS DOUBLE) AS syyd,
       |    CAST(SUM(CAST(round(beta * u, 6) AS DECIMAL(38,6))) AS DOUBLE) AS bxty
       |  FROM gj2 GROUP BY g, run
       |),
       |sig AS (
       |  SELECT g, run, sqrt(greatest(syyd - bxty, 0.0) / $dof) AS sigma FROM grp
       |)
       |SELECT gj2.run AS run, gj2.g AS g, CAST(gj2.j AS BIGINT) AS j,
       |  round(beta, 6) AS beta,
       |  round(sigma, 6) AS sigma,
       |  round(beta / (sigma * sqrt(cj.cjj)), 6) AS t_stat
       |FROM gj2
       |JOIN sig ON sig.g = gj2.g AND sig.run = gj2.run
       |JOIN cj ON cj.run = gj2.run AND cj.j = gj2.j
       |ORDER BY run, g, j""".stripMargin
  }

  // ---- q116: DATA-DEPENDENT design GLM, hash-checked end to end ----------

  private val NG = 2016
  private val trUsG = 300000000L
  private val KG = 6

  /** Canonical symmetric moment name (only the upper triangle is summed). */
  private def aName(i: Int, j: Int): String =
    if (i <= j) s"a_${i}_$j" else s"a_${j}_$i"

  /** The no-pivot Gauss-Jordan elimination of the augmented system
    * [A | b] → [I | A⁻¹b], emitted as per-stage SQL expression lists. The
    * SAME strings run through Spark's selectExpr and the DuckDB oracle, so
    * both engines execute the identical IEEE-754 op sequence and the betas
    * are bit-equal BY CONSTRUCTION — the generator is the k-scalable form
    * of q47's hand-transcribed k=3 inverse. No pivoting is needed: XᵀX of
    * a full-rank design is symmetric positive definite, so every leading
    * principal minor — and hence every no-pivot pivot — is strictly
    * positive. */
  private[graft] def gjStagesForTest(k: Int): Seq[Seq[String]] =
    gjStages(k, (i, j) => s"d_${i}_$j", i => s"db_$i")

  private[graft] def gjStages(k: Int, a: (Int, Int) => String,
      b: Int => String): Seq[Seq[String]] = {
    var cur: IndexedSeq[IndexedSeq[String]] =
      (0 until k).map(i => (0 to k).map(j => if (j < k) a(i, j) else b(i)))
    (0 until k).map { p =>
      val prev = cur
      cur = (0 until k).map(i => (0 to k).map(j => s"g${p}_${i}_$j"))
      for (i <- 0 until k; j <- 0 to k) yield {
        val e =
          if (i == p) s"(${prev(p)(j)}) / (${prev(p)(p)})"
          else s"(${prev(i)(j)}) - (${prev(i)(p)}) * ((${prev(p)(j)}) / (${prev(p)(p)}))"
        s"$e AS g${p}_${i}_$j"
      }
    }
  }

  /** q116: the flagship GLM shape with a DATA-DEPENDENT design, solved
    * ENTIRELY in the engines — the answer to "the pinv is data-dependent,
    * so q48/q104 stay rows-only": at small k the pinv barrier disappears
    * into the relational algebra. X(t) = [1, t, t², click cents(t),
    * purchase cents(t), event count(t)] over the week grid (three columns
    * are per-TR event aggregates — no engine knows X until it scans the
    * data), y(g, t) = per-group TR cents. β_g = (XᵀX)⁻¹Xᵀy via the
    * GENERATED no-pivot Gauss-Jordan chain ([[gjStages]]) over
    * exact-integer moments: one design aggregate (k(k+1)/2 DECIMAL sums),
    * one per-group Xᵀy aggregate, and a pure per-group projection — no
    * driver-side linear algebra at ALL, unlike q48's collected pinv. The
    * oracle replays every stage with the same expression strings.
    *
    * Scale shape: one scan for the design moments (k² tiny sums), one
    * data-sized aggregate keyed by (g, t) then g, one broadcast of the
    * 1-row moment relation; the k³ elimination runs per group as
    * projection arithmetic. At k = 40 the same construction would emit
    * ~40³ expression terms — the generator works, but the SQL grows to
    * megabytes; that, not semantics, is why the full-width flagship keeps
    * its spec-pinned driver pinv (recorded in SCALE.md). */
  def normalGlm(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select(expr(s"(ts div 1000 - $baseUs) div $trUsG").as("t"),
        (col("user_id") % 10).as("g"), col("event_type"),
        expr("cast(floor(value * 100 + 0.5D) as bigint)").as("fpv"))
      .filter(col("t") < NG)
    val perT = ev.groupBy("t").agg(
      sum(when(col("event_type") === "click", col("fpv")).otherwise(0L)).as("xc"),
      sum(when(col("event_type") === "purchase", col("fpv")).otherwise(0L)).as("xp"),
      count(lit(1)).as("xn"))
    val design = s.range(NG).select(col("id").as("t"))
      .join(perT, Seq("t"), "left").na.fill(0L, Seq("xc", "xp", "xn"))
      .select(col("t"), lit(1L).as("x0"), col("t").as("x1"),
        (col("t") * col("t")).as("x2"), col("xc").as("x3"), col("xp").as("x4"),
        col("xn").as("x5"))
    val xtxAggs = for (i <- 0 until KG; j <- i until KG)
      yield sum(col(s"x$i").cast("decimal(38,0)") * col(s"x$j")).as(aName(i, j))
    val xtx = design.agg(xtxAggs.head, xtxAggs.tail: _*)
    val y = ev.groupBy("g", "t").agg(sum("fpv").as("y"))
    val xtyAggs = (0 until KG).map(i =>
      sum(col(s"x$i").cast("decimal(38,0)") * col("y")).as(s"b_$i"))
    val xty = y.join(broadcast(design), Seq("t"))
      .groupBy("g").agg(xtyAggs.head, xtyAggs.tail: _*)
    val init = xty.crossJoin(broadcast(xtx)).selectExpr(
      "g" +:
        ((for (i <- 0 until KG; j <- 0 until KG)
          yield s"CAST(${aName(i, j)} AS DOUBLE) AS d_${i}_$j") ++
          (0 until KG).map(i => s"CAST(b_$i AS DOUBLE) AS db_$i")): _*)
    val solved = gjStages(KG, (i, j) => s"d_${i}_$j", i => s"db_$i")
      .foldLeft(init)((df, st) => df.selectExpr("g" +: st: _*))
    solved.selectExpr(
      "g" +: (0 until KG).map(i => s"round(g${KG - 1}_${i}_$KG, 6) AS beta_$i"): _*)
      .orderBy("g")
  }

  private def normalGlmSql: String = {
    val xtxSums = (for (i <- 0 until KG; j <- i until KG)
      yield s"SUM(CAST(x$i AS HUGEINT) * x$j) AS ${aName(i, j)}").mkString(",\n    ")
    val xtySums = (0 until KG)
      .map(i => s"SUM(CAST(x$i AS HUGEINT) * y) AS b_$i").mkString(",\n    ")
    val initCols = ((for (i <- 0 until KG; j <- 0 until KG)
      yield s"CAST(${aName(i, j)} AS DOUBLE) AS d_${i}_$j") ++
      (0 until KG).map(i => s"CAST(b_$i AS DOUBLE) AS db_$i")).mkString(",\n    ")
    val stages = gjStages(KG, (i, j) => s"d_${i}_$j", i => s"db_$i")
    val stageCtes = stages.zipWithIndex.map { case (st, p) =>
      val prev = if (p == 0) "init" else s"st${p - 1}"
      s"st$p AS (\n  SELECT g, ${st.mkString(",\n    ")}\n  FROM $prev\n)"
    }.mkString(",\n")
    val out = (0 until KG)
      .map(i => s"round(g${KG - 1}_${i}_$KG, 6) AS beta_$i").mkString(", ")
    s"""WITH ev AS (
       |  SELECT (epoch_us(ts) - $baseUs) // $trUsG AS t,
       |    user_id % 10 AS g, event_type,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS fpv
       |  FROM events
       |  WHERE epoch_us(ts) - $baseUs >= 0
       |    AND (epoch_us(ts) - $baseUs) // $trUsG < $NG
       |),
       |pert AS (
       |  SELECT t,
       |    SUM(CASE WHEN event_type = 'click' THEN fpv ELSE 0 END) AS xc,
       |    SUM(CASE WHEN event_type = 'purchase' THEN fpv ELSE 0 END) AS xp,
       |    COUNT(*) AS xn
       |  FROM ev GROUP BY t
       |),
       |design AS (
       |  SELECT tl.t, CAST(1 AS BIGINT) AS x0, tl.t AS x1, tl.t * tl.t AS x2,
       |    COALESCE(p.xc, 0) AS x3, COALESCE(p.xp, 0) AS x4,
       |    COALESCE(p.xn, 0) AS x5
       |  FROM (SELECT CAST(r.r AS BIGINT) AS t FROM unnest(range($NG)) AS r(r)) tl
       |  LEFT JOIN pert p ON p.t = tl.t
       |),
       |xtx AS (
       |  SELECT
       |    $xtxSums
       |  FROM design
       |),
       |yy AS (
       |  SELECT g, t, SUM(fpv) AS y FROM ev GROUP BY g, t
       |),
       |xty AS (
       |  SELECT g,
       |    $xtySums
       |  FROM yy JOIN design USING (t)
       |  GROUP BY g
       |),
       |init AS (
       |  SELECT g,
       |    $initCols
       |  FROM xty CROSS JOIN xtx
       |),
       |$stageCtes
       |SELECT g, $out
       |FROM st${KG - 1}
       |ORDER BY g""".stripMargin
  }

  // ---- q140: second-level (group) GLM ------------------------------------
  // The random-effects step above q103's first level: each group's
  // per-run beta is a subject-level observation; for every (run, j) the
  // second level tests whether the effect is nonzero across groups with
  // a one-sample t (mean / (sd/√n)) — the fMRI hierarchy's "group
  // analysis" (FSL FLAME / SPM second-level, simplest OLS form).
  // Determinism: first-level betas are the IDENTICAL op chain both
  // engines already hash-prove via q103; the second level integerizes
  // each beta to round(beta·1e6) BIGINT, sums exactly (squares in
  // DECIMAL(38,0) — b_fp² overflows int64), and derives mean/var/t with
  // shared expression strings. Scale shape: the first level's one
  // data-sized exchange, then a bounded (Runs·k)-row aggregate.

  private val glK = 4

  private val glMStr = "CAST(s1 AS DOUBLE) / (n * 1e6)"
  private val glVStr =
    "(CAST(s2 AS DOUBLE) / 1e12 - n * (CAST(s1 AS DOUBLE) / (n * 1e6)) * " +
      "(CAST(s1 AS DOUBLE) / (n * 1e6))) / (n - 1)"
  private val glTStr = "CASE WHEN v > 0 THEN m / sqrt(v / n) END"

  def groupGlm(s: SparkSession, d: String): DataFrame =
    secondLevel(multiRunFirstLevel(s, d).select("run", "j", "b_fp"))

  /** One-sample t across a (run, j, b_fp) relation of fixed-point
    * first-level betas — split out so specs can feed planted values. */
  private[graft] def secondLevel(firstLevel: DataFrame): DataFrame =
    firstLevel
      .groupBy("run", "j")
      .agg(expr("COUNT(*)").as("n"), expr("SUM(b_fp)").as("s1"),
        expr("SUM(CAST(b_fp AS DECIMAL(38,0)) * b_fp)").as("s2"))
      .selectExpr("run", "j", "n", s"$glMStr AS m", s"$glVStr AS v")
      .selectExpr("run", "j", "n", "round(m, 6) AS mean_beta",
        s"round($glTStr, 6) AS t_group")
      .orderBy("run", "j")

  private def groupGlmSql: String =
    s"""WITH $multiRunBetaCtes,
       |fl AS (
       |  SELECT run, j, CAST(round(beta * 1e6, 0) AS BIGINT) AS b_fp
       |  FROM gj2
       |),
       |agg AS (
       |  SELECT run, j, COUNT(*) AS n, SUM(b_fp) AS s1,
       |    SUM(CAST(b_fp AS HUGEINT) * b_fp) AS s2
       |  FROM fl GROUP BY run, j
       |),
       |mv AS (
       |  SELECT run, j, n, $glMStr AS m, $glVStr AS v FROM agg
       |)
       |SELECT run, CAST(j AS BIGINT) AS j, CAST(n AS BIGINT) AS n,
       |  round(m, 6) AS mean_beta,
       |  round($glTStr, 6) AS t_group
       |FROM mv
       |ORDER BY run, j""".stripMargin

  // ---- q160: two-sample + covariate second level (ANCOVA) ----------------
  // The group-DIFFERENCE design every clinical second level runs (FSL
  // "two-group difference with a continuous covariate", SPM factorial +
  // regressor): per (run, j), model each subject's first-level beta as
  // b_g = a + c·grp_g + d·cov_g + e with grp the subject's cohort
  // (g % 2 — patients vs controls in the acquisition analog) and cov the
  // subject's global signal for that run (the exact cent sum — a real
  // data-derived nuisance covariate, not a literal). Reports the
  // covariate-adjusted group difference c and its t statistic
  // t = c / sqrt(sigma² · [XᵀX⁻¹]_cc), df = n − 3.
  //
  // Determinism: all ten moments are exact integer/DECIMAL sums of
  // fixed-point values (b_fp at 1e6, cov in cents); the 3×3 normal
  // equations are solved in closed cofactor form through three projection
  // stages of SHARED expression strings, so both engines execute the
  // identical double op sequence (the q136 Gauss–Jordan argument, with
  // the symmetric-inverse cofactors written out since k=3 is fixed).
  //
  // Scale shape: the first level's one data-sized exchange; the covariate
  // is a bounded (Runs·Subjects) aggregate of the SAME series; the ANCOVA
  // itself is one (run, j)-keyed aggregate over n=10 rows per cell — at
  // the mass regime (voxels×contrasts cells) it stays one exchange keyed
  // by hypothesis, no window, no driver state.

  // stage 1: integer moments → scaled doubles (cov at 1e6 cents = one
  // "megacent" unit so coefficients land O(1) for the 6-dp round)
  private val anStageD = Seq(
    "CAST(n AS DOUBLE) AS dn",
    "CAST(sg AS DOUBLE) AS dg",
    "CAST(sc AS DOUBLE) / 1e6 AS dc",
    "CAST(scc AS DOUBLE) / 1e12 AS dcc",
    "CAST(sgc AS DOUBLE) / 1e6 AS dgc",
    "CAST(sb AS DOUBLE) / 1e6 AS db",
    "CAST(sgb AS DOUBLE) / 1e6 AS dgb",
    "CAST(scb AS DOUBLE) / 1e12 AS dcb",
    "CAST(sbb AS DOUBLE) / 1e12 AS dbb")
  // stage 2: cofactors of the symmetric XtX (sgg = sg since grp ∈ {0,1})
  private val anStageM = Seq(
    "(dg * dcc - dgc * dgc) AS m00",
    "(dc * dgc - dg * dcc) AS m01",
    "(dg * dgc - dg * dc) AS m02",
    "(dn * dcc - dc * dc) AS m11",
    "(dg * dc - dn * dgc) AS m12",
    "(dn * dg - dg * dg) AS m22",
    "(dn * (dg * dcc - dgc * dgc) - dg * (dg * dcc - dgc * dc) " +
      "+ dc * (dg * dgc - dg * dc)) AS det")
  // stage 3: coefficients via the symmetric inverse rows
  private val anStageB = Seq(
    "CASE WHEN det <> 0 THEN (m00 * db + m01 * dgb + m02 * dcb) / det END AS ca",
    "CASE WHEN det <> 0 THEN (m01 * db + m11 * dgb + m12 * dcb) / det END AS cg",
    "CASE WHEN det <> 0 THEN (m02 * db + m12 * dgb + m22 * dcb) / det END AS cv")
  // stage 4: residual variance and the group-effect t
  private val anSig2Str = "(dbb - (ca * db + cg * dgb + cv * dcb)) / (dn - 3)"
  private val anTStr =
    "CASE WHEN det <> 0 AND sig2 > 0 AND m11 / det > 0 " +
      "THEN cg / sqrt(sig2 * (m11 / det)) END"

  /** ANCOVA core over a (run, g, j, b_fp) first level and a (run, g,
    * cov_c) covariate relation — split out so specs can plant values. */
  private[graft] def ancovaCore(firstLevel: DataFrame, cov: DataFrame): DataFrame =
    firstLevel.join(broadcast(cov), Seq("run", "g"))
      .selectExpr("run", "j", "g % 2 AS grp", "cov_c", "b_fp")
      .groupBy("run", "j")
      .agg(expr("COUNT(*)").as("n"),
        expr("SUM(grp)").as("sg"),
        expr("SUM(CAST(cov_c AS DECIMAL(38,0)))").as("sc"),
        expr("SUM(CAST(cov_c AS DECIMAL(38,0)) * cov_c)").as("scc"),
        expr("SUM(CASE WHEN grp = 1 THEN CAST(cov_c AS DECIMAL(38,0)) ELSE 0 END)").as("sgc"),
        expr("SUM(CAST(b_fp AS DECIMAL(38,0)))").as("sb"),
        expr("SUM(CASE WHEN grp = 1 THEN CAST(b_fp AS DECIMAL(38,0)) ELSE 0 END)").as("sgb"),
        expr("SUM(CAST(cov_c AS DECIMAL(38,0)) * b_fp)").as("scb"),
        expr("SUM(CAST(b_fp AS DECIMAL(38,0)) * b_fp)").as("sbb"))
      .selectExpr(Seq("run", "j", "n") ++ anStageD: _*)
      .selectExpr(Seq("run", "j", "n", "dn", "db", "dgb", "dcb", "dbb") ++ anStageM: _*)
      .selectExpr(Seq("run", "j", "n", "dn", "db", "dgb", "dcb", "dbb",
        "m11", "det") ++ anStageB: _*)
      .selectExpr("run", "j", "n", "m11", "det", "ca", "cg", "cv",
        s"$anSig2Str AS sig2")
      .selectExpr("run", "CAST(j AS BIGINT) AS j", "CAST(n AS BIGINT) AS n",
        "round(ca, 6) AS intercept", "round(cg, 6) AS group_diff",
        "round(cv, 6) AS cov_slope", s"round($anTStr, 6) AS t_group")
      .orderBy("run", "j")

  def ancovaGlm(s: SparkSession, d: String): DataFrame = {
    val cov = multiRunSeries(s, d)
      .groupBy("run", "g")
      .agg(expr("CAST(SUM(y_dec) * 100 AS BIGINT)").as("cov_c"))
    ancovaCore(multiRunFirstLevel(s, d), cov)
  }

  private def ancovaGlmSql: String =
    s"""WITH $multiRunBetaCtes,
       |fl AS MATERIALIZED (
       |  SELECT run, g, j, CAST(round(beta * 1e6, 0) AS BIGINT) AS b_fp
       |  FROM gj2
       |),
       |cov AS (
       |  SELECT run, g, CAST(SUM(y) * 100 AS BIGINT) AS cov_c
       |  FROM ser GROUP BY run, g
       |),
       |jn AS (
       |  SELECT fl.run, fl.j, fl.g % 2 AS grp, cov_c, b_fp
       |  FROM fl JOIN cov ON cov.run = fl.run AND cov.g = fl.g
       |),
       |mom AS (
       |  SELECT run, j, COUNT(*) AS n, SUM(grp) AS sg,
       |    SUM(CAST(cov_c AS HUGEINT)) AS sc,
       |    SUM(CAST(cov_c AS HUGEINT) * cov_c) AS scc,
       |    SUM(CASE WHEN grp = 1 THEN CAST(cov_c AS HUGEINT) ELSE 0 END) AS sgc,
       |    SUM(CAST(b_fp AS HUGEINT)) AS sb,
       |    SUM(CASE WHEN grp = 1 THEN CAST(b_fp AS HUGEINT) ELSE 0 END) AS sgb,
       |    SUM(CAST(cov_c AS HUGEINT) * b_fp) AS scb,
       |    SUM(CAST(b_fp AS HUGEINT) * b_fp) AS sbb
       |  FROM jn GROUP BY run, j
       |),
       |d1 AS (SELECT run, j, n, ${anStageD.mkString(", ")} FROM mom),
       |d2 AS (SELECT run, j, n, dn, db, dgb, dcb, dbb, ${anStageM.mkString(", ")} FROM d1),
       |d3 AS (SELECT run, j, n, dn, db, dgb, dcb, dbb, m11, det,
       |  ${anStageB.mkString(", ")} FROM d2),
       |d4 AS (SELECT run, j, n, m11, det, ca, cg, cv, $anSig2Str AS sig2 FROM d3)
       |SELECT run, CAST(j AS BIGINT) AS j, CAST(n AS BIGINT) AS n,
       |  round(ca, 6) AS intercept, round(cg, 6) AS group_diff,
       |  round(cv, 6) AS cov_slope, round($anTStr, 6) AS t_group
       |FROM d4
       |ORDER BY run, j""".stripMargin

  // ---- q162: motion-censored first-level GLM -----------------------------
  // Scrubbing APPLIED — the reason q159 exists: drop the censored frames
  // and refit each run's first level on the surviving ones (FSL's
  // "motion outliers as censoring" / AFNI -censor). The kept-frame set is
  // DATA-DEPENDENT, so the literal-pinv shortcut is off the table; this
  // is exactly q116's regime — XᵀX over the kept frames is a k(k+1)/2
  // DECIMAL aggregate of the fixed-point design relation, Xᵀy one
  // per-(run, g) aggregate, and the generated no-pivot Gauss–Jordan
  // ([[gjStages]]) solves per (run, g) as projection arithmetic, shared
  // string for string with the oracle.
  //
  // The censor flags ride the EXACT q159 kernel (TimeSeries.fdScrubCore —
  // same FD formula, same 2.5×median rule, same f-1..f+2 augmentation)
  // computed on the multi-run grid, so QC and refit agree by
  // construction.
  //
  // Scale shape: two data-sized exchanges (the motion-param aggregate and
  // the series aggregate — both partial-combine map-side to grid-bounded
  // rows); the kept-frame relation is Runs·Nr-bounded and broadcast; XᵀX
  // is Runs rows; the k³ elimination is per-(run, g) projection math. No
  // global window, no driver linear algebra.

  private val XfScale = 1000000L

  /** Fixed-point per-run design rows (run, t, xf0..xf3) at 1e6 — exact
    * integer moments without DECIMAL(38) overflow (1e9² products would
    * need >int128 headroom across Nr terms in the oracle's HUGEINT). */
  private def xFp162Of(s: SparkSession): DataFrame = {
    import s.implicits._
    (for (r <- 0 until Runs; t <- 0 until Nr) yield {
      val x = runDesign(r)
      (r.toLong, t.toLong,
        math.rint(x(t)(0) * XfScale).toLong,
        math.rint(x(t)(1) * XfScale).toLong,
        math.rint(x(t)(2) * XfScale).toLong,
        math.rint(x(t)(3) * XfScale).toLong)
    }).toDF("run", "t", "xf0", "xf1", "xf2", "xf3")
  }

  /** Censored refit from a censor relation (run, t, censored) and the
    * (run, g, t, y_dec) series — split out so specs can plant censor
    * patterns. */
  private[graft] def censoredGlmCore(s: SparkSession, censor: DataFrame,
      series: DataFrame): DataFrame = {
    val k = K157
    // bounded at Runs·Nr rows but lineage carries the data-sized motion
    // aggregate, and it feeds both the XtX and Xty branches — pin once
    val keep = censor.filter(col("censored") === 0)
      .select("run", "t").localCheckpoint()
    val xf = xFp162Of(s)
    val kept = xf.join(broadcast(keep), Seq("run", "t"))
    val xtxAggs = (for (i <- 0 until k; j <- i until k) yield
      expr(s"SUM(CAST(xf$i AS DECIMAL(38,0)) * xf$j)").as(s"sxx_${i}_$j")) :+
      count(lit(1)).as("n_kept")
    val xtx = kept.groupBy("run").agg(xtxAggs.head, xtxAggs.tail: _*)
    val sxyAggs = (0 until k).map(i =>
      expr(s"SUM(CAST(xf$i AS DECIMAL(38,0)) * y)").as(s"sxy_$i"))
    val xty = series.selectExpr("run", "t", "g", "CAST(y_dec * 100 AS BIGINT) AS y")
      .join(broadcast(keep), Seq("run", "t"))
      .join(broadcast(xf), Seq("run", "t"))
      .groupBy("run", "g").agg(sxyAggs.head, sxyAggs.tail: _*)
    val dExprs = (for (i <- 0 until k; j <- 0 until k) yield {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      s"CAST(sxx_${a}_$b AS DOUBLE) / 1e12 AS d_${i}_$j"
    }) ++ (0 until k).map(i => s"CAST(sxy_$i AS DOUBLE) / 1e8 AS db_$i")
    val init = xty.join(broadcast(xtx), Seq("run"))
      .selectExpr(Seq("run", "g", "n_kept") ++ dExprs: _*)
    val solved = gjStages(k, (i, j) => s"d_${i}_$j", i => s"db_$i")
      .foldLeft(init)((df, st) =>
        df.selectExpr(Seq("run", "g", "n_kept") ++ st: _*))
    solved.selectExpr(Seq("run", "g", "CAST(n_kept AS BIGINT) AS n_kept") ++
      (0 until k).map(i => s"round(g${k - 1}_${i}_$k, 6) AS beta_$i"): _*)
      .orderBy("run", "g")
  }

  /** ONE data-sized pass feeding BOTH q162 branches: the (run, g, t, j)
    * cents aggregate, from which the motion params (sum over g) and the
    * series (sum over j) are bounded re-aggregations. events.value is
    * exactly 2-decimal, so floor(v·100+0.5) cents summed per cell equals
    * the DECIMAL(18,2) sum ×100 — the series derived here is bit-equal
    * to [[multiRunSeries]]'s cents (the oracle mirrors the same
    * restructuring). Bounded at Runs·Nr·Subjects·6 rows; pinned once. */
  private def multiRunCombined(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select((col("user_id") % 10).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $hourUs").as("th"),
        (col("event_id") % 6).as("j"),
        expr("cast(floor(value * 100 + 0.5D) as bigint)").as("c"))
      .filter(col("th") < Runs * Nr)
      .select(expr(s"th div $Nr").as("run"), expr(s"th % $Nr").as("t"),
        col("g"), col("j"), col("c"))
      .groupBy("run", "g", "t", "j").agg(sum("c").as("c"))
      .localCheckpoint()

  /** The q159 motion params on the multi-run grid → censor flags. */
  private def multiRunCensor(s: SparkSession, combined: DataFrame): DataFrame = {
    val aggs = (0 until 6).map(j =>
      sum(when(col("j") === j, col("c")).otherwise(0L)).as(s"p_$j"))
    val raw = combined.groupBy("run", "t").agg(aggs.head, aggs.tail: _*)
    val grid = s.range(Runs).select(col("id").as("run"))
      .crossJoin(s.range(Nr).select(col("id").as("t")))
    TimeSeries.fdScrubCore(grid.join(raw, Seq("run", "t"), "left")
      .na.fill(0L, (0 until 6).map(j => s"p_$j")))
      .select("run", "t", "censored")
  }

  def censoredGlm(s: SparkSession, d: String): DataFrame = {
    val combined = multiRunCombined(s, d)
    val series = combined.groupBy("run", "g", "t")
      .agg(expr("CAST(CAST(SUM(c) AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2))")
        .as("y_dec"))
    censoredGlmCore(s, multiRunCensor(s, combined), series)
  }

  private def censoredGlmSql: String = {
    val k = K157
    s"""WITH $censoredGlmCtes
       |SELECT run, g, CAST(n_kept AS BIGINT) AS n_kept, ${(0 until k)
      .map(i => s"round(g${k - 1}_${i}_$k, 6) AS beta_$i").mkString(", ")}
       |FROM st${k - 1}
       |ORDER BY run, g""".stripMargin
  }

  /** The q162 oracle body through the solved st{k-1} relation — shared
    * with q164's group tail. */
  private def censoredGlmCtes: String = {
    val k = K157
    val xfVals = (for (r <- 0 until Runs; t <- 0 until Nr) yield {
      val x = runDesign(r)
      s"($r, $t, ${(0 until k).map(j => math.rint(x(t)(j) * XfScale).toLong).mkString(", ")})"
    }).mkString(", ")
    val pSel = (0 until 6).map(j =>
      s"SUM(CASE WHEN j = $j THEN c ELSE 0 END) AS p_$j").mkString(",\n|      ")
    val dSel = (0 until 6).map(j =>
      s"COALESCE(p_$j - LAG(p_$j) OVER (PARTITION BY run ORDER BY t), 0) AS d_$j")
      .mkString(",\n|      ")
    val xtxSums = (for (i <- 0 until k; j <- i until k) yield
      s"SUM(CAST(xf$i AS HUGEINT) * xf$j) AS sxx_${i}_$j").mkString(",\n|    ")
    val xtySums = (0 until k)
      .map(i => s"SUM(CAST(xf$i AS HUGEINT) * y) AS sxy_$i").mkString(",\n|    ")
    val initCols = ((for (i <- 0 until k; j <- 0 until k) yield {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      s"CAST(sxx_${a}_$b AS DOUBLE) / 1e12 AS d_${i}_$j"
    }) ++ (0 until k).map(i =>
      s"CAST(sxy_$i AS DOUBLE) / 1e8 AS db_$i")).mkString(",\n|    ")
    val stages = gjStages(k, (i, j) => s"d_${i}_$j", i => s"db_$i")
    val stageCtes = stages.zipWithIndex.map { case (st, p) =>
      val prev = if (p == 0) "init" else s"st${p - 1}"
      s"st$p AS (\n  SELECT run, g, n_kept, ${st.mkString(",\n    ")}\n  FROM $prev\n)"
    }.mkString(",\n")
    val out = (0 until k)
      .map(i => s"round(g${k - 1}_${i}_$k, 6) AS beta_$i").mkString(", ")
    s"""xf(run, t, ${(0 until k).map(j => s"xf$j").mkString(", ")}) AS (
       |  VALUES $xfVals
       |),
       |comb AS (
       |  SELECT user_id % 10 AS g,
       |    ((epoch_us(ts) - $baseUs) // $hourUs) // $Nr AS run,
       |    ((epoch_us(ts) - $baseUs) // $hourUs) % $Nr AS t,
       |    event_id % 6 AS j,
       |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS c
       |  FROM events
       |  WHERE epoch_us(ts) - $baseUs >= 0
       |    AND (epoch_us(ts) - $baseUs) // $hourUs < ${Runs * Nr}
       |  GROUP BY 1, 2, 3, 4
       |), magg AS (
       |  SELECT run, t,
       |      $pSel
       |  FROM comb GROUP BY run, t
       |), mgrid AS (
       |  SELECT rs.r AS run, gs.g AS t
       |  FROM generate_series(0, ${Runs - 1}) AS rs(r),
       |       generate_series(0, ${Nr - 1}) AS gs(g)
       |), mfilled AS (
       |  SELECT mgrid.run, mgrid.t,
       |    ${(0 until 6).map(j => s"COALESCE(p_$j, 0) AS p_$j").mkString(", ")}
       |  FROM mgrid LEFT JOIN magg ON magg.run = mgrid.run AND magg.t = mgrid.t
       |), mdiffs AS (
       |  SELECT run, t,
       |      $dSel
       |  FROM mfilled
       |), mfd AS (
       |  SELECT run, t, ${TimeSeries.fdStr} AS fd_c FROM mdiffs
       |), mmed AS (
       |  SELECT run, quantile_cont(fd_c, 0.5) AS med FROM mfd GROUP BY run
       |), mflag AS (
       |  SELECT mfd.run, mfd.t, fd_c,
       |    CASE WHEN ${TimeSeries.fdSpikeStr} THEN 1 ELSE 0 END AS spike
       |  FROM mfd JOIN mmed ON mmed.run = mfd.run
       |), keep AS (
       |  SELECT run, t FROM (
       |    SELECT run, t,
       |      MAX(spike) OVER (PARTITION BY run ORDER BY t
       |        ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS censored
       |    FROM mflag
       |  ) WHERE censored = 0
       |),
       |xtx AS (
       |  SELECT xf.run,
       |    $xtxSums,
       |    COUNT(*) AS n_kept
       |  FROM xf JOIN keep ON keep.run = xf.run AND keep.t = xf.t
       |  GROUP BY xf.run
       |),
       |ser AS (
       |  SELECT run, g, t, CAST(SUM(c) AS BIGINT) AS y
       |  FROM comb GROUP BY 1, 2, 3
       |),
       |xty AS (
       |  SELECT ser.run, ser.g,
       |    $xtySums
       |  FROM ser
       |  JOIN keep ON keep.run = ser.run AND keep.t = ser.t
       |  JOIN xf ON xf.run = ser.run AND xf.t = ser.t
       |  GROUP BY ser.run, ser.g
       |),
       |init AS (
       |  SELECT xty.run, g, n_kept,
       |    $initCols
       |  FROM xty JOIN xtx ON xtx.run = xty.run
       |),
       |$stageCtes""".stripMargin
  }

  // ---- q164: QC-aware group analysis (censored first level → group t) ----
  // The composition the q162 scrubbing exists FOR: motion-censored
  // per-subject betas feed the one-sample second level (q140's tail) —
  // the full "scrub, refit, group-infer" chain as ONE hash-checked
  // relation. Betas re-enter the second level through the SAME 1e6
  // fixed-point integerization q140 applies to its first level, so the
  // tail is literally [[secondLevel]]; the oracle stacks the solved
  // Gauss–Jordan relation with a 4-way UNION and replays the q140
  // aggregate strings. Bounded work over the q162 relation — no new
  // exchange beyond the (run, j) second-level aggregate.

  def censoredGroupGlm(s: SparkSession, d: String): DataFrame = {
    val k = K157
    val fl = censoredGlm(s, d).selectExpr("run",
      s"stack($k, ${(0 until k).map(i => s"${i}L, beta_$i").mkString(", ")}) AS (j, beta)")
      .selectExpr("run", "j", "CAST(round(beta * 1e6, 0) AS BIGINT) AS b_fp")
    secondLevel(fl)
  }

  private def censoredGroupGlmSql: String = {
    val k = K157
    val arms = (0 until k).map(i =>
      s"SELECT run, CAST($i AS BIGINT) AS j, " +
        s"CAST(round(round(g${k - 1}_${i}_$k, 6) * 1e6, 0) AS BIGINT) AS b_fp " +
        s"FROM st${k - 1}").mkString("\n  UNION ALL\n  ")
    s"""WITH $censoredGlmCtes,
       |fl AS (
       |  $arms
       |),
       |agg AS (
       |  SELECT run, j, COUNT(*) AS n, SUM(b_fp) AS s1,
       |    SUM(CAST(b_fp AS HUGEINT) * b_fp) AS s2
       |  FROM fl GROUP BY run, j
       |),
       |mv AS (
       |  SELECT run, j, n, $glMStr AS m, $glVStr AS v FROM agg
       |)
       |SELECT run, j, CAST(n AS BIGINT) AS n,
       |  round(m, 6) AS mean_beta,
       |  round($glTStr, 6) AS t_group
       |FROM mv
       |ORDER BY run, j""".stripMargin
  }

  // ---- q141: contrast inference on the fixed-design GLM ------------------
  // The COPE step the reference ecosystem runs after every first-level
  // fit (FSL contrast estimates / SPM con images): a single-row contrast
  // c = [0, 1, −1] (trend vs DCT1) with its t statistic
  // t_c = c'β / (σ·√(c'(XᵀX)⁻¹c)), and the joint 2-row contrast
  // C = {trend, DCT1} with its F statistic
  // F = (Cβ)' [C(XᵀX)⁻¹C']⁻¹ (Cβ) / (q·σ²). X is the q33 literal
  // design, so c'(XᵀX)⁻¹c and the 2×2 [C(XᵀX)⁻¹C']⁻¹ are driver
  // literals; β and σ ride the SAME chain both engines hash-prove via
  // q60 (the oracle shares its CTE prefix verbatim). Pure per-group
  // projection after the q60 aggregate — no new exchange.

  private lazy val xtxInv: LinAlg.Mat =
    LinAlg.inverse(LinAlg.matmul(LinAlg.transpose(design), design))
  private lazy val contrastVc: Double =
    xtxInv(1)(1) - 2 * xtxInv(1)(2) + xtxInv(2)(2)
  private lazy val contrastMinv: LinAlg.Mat = LinAlg.inverse(
    Array(Array(xtxInv(1)(1), xtxInv(1)(2)), Array(xtxInv(2)(1), xtxInv(2)(2))))

  private def contrastTStr =
    s"CASE WHEN sigma > 0 THEN (b_1 - b_2) / (sigma * sqrt($contrastVc)) END"
  private def contrastFStr =
    s"CASE WHEN sigma > 0 THEN " +
      s"((b_1 * (${contrastMinv(0)(0)}) + b_2 * (${contrastMinv(0)(1)})) * b_1 + " +
      s"(b_1 * (${contrastMinv(1)(0)}) + b_2 * (${contrastMinv(1)(1)})) * b_2) / " +
      s"(2 * (sigma * sigma)) END"

  def contrastGlm(s: SparkSession, d: String): DataFrame = {
    val series = events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select(
        (col("user_id") % 20).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $bucketUs").as("t"),
        col("value").cast("decimal(18,2)").as("y_dec"),
      ).groupBy("g", "t").agg(sum("y_dec").as("y_dec"))
    GlmOps.massGLMPacked(s, series, design, "g")
      .groupBy("g")
      .agg(max(when(col("j") === 1, col("beta"))).as("b_1"),
        max(when(col("j") === 2, col("beta"))).as("b_2"),
        max(col("sigma")).as("sigma"))
      .selectExpr("g", "round(b_1 - b_2, 6) AS cope",
        s"round($contrastTStr, 6) AS t_contrast",
        s"round($contrastFStr, 6) AS f_joint")
      .orderBy("g")
  }

  private def contrastGlmSql: String =
    s"""WITH $fixedDesignStatCtes,
       |bv AS (
       |  SELECT g,
       |    MAX(CASE WHEN j = 1 THEN beta END) AS b_1,
       |    MAX(CASE WHEN j = 2 THEN beta END) AS b_2
       |  FROM gj2 GROUP BY g
       |)
       |SELECT bv.g, round(b_1 - b_2, 6) AS cope,
       |  round($contrastTStr, 6) AS t_contrast,
       |  round($contrastFStr, 6) AS f_joint
       |FROM bv JOIN sig ON sig.g = bv.g
       |ORDER BY bv.g""".stripMargin

  // ---- q148: sign-flip permutation test on the second level --------------
  // FSL randomise's one-sample shape: under H0 (no group effect) each
  // subject's beta is symmetric around 0, so every sign pattern of the
  // betas is equally likely — the permutation p-value is the fraction of
  // sign patterns whose |t| meets the observed |t|. Signs are a PURE
  // FUNCTION of (pattern, g) (Knuth-mix parity — reproducible on any
  // cluster, mirrored verbatim in the oracle); sign-flipping leaves Σb²
  // invariant, so each pattern costs ONE exact integer sum Σ s_g·b_fp
  // and the t recomputation is projection arithmetic. Work is bounded at
  // Runs·k·P·n terms after the first-level fit (the data-sized part).

  private[queries] val PermP = 256

  private val permTStr =
    "CASE WHEN (q - n * (m * m)) > 0 THEN " +
      "m / sqrt(((q - n * (m * m)) / (n - 1)) / n) END"

  /** The permutation machinery shared by q148/q151/q152: from a
    * (run, g, j, b_fp) first-level relation, the observed-stat relation
    * `base` (run, j, n, q, t_obs) and the per-pattern stat relation
    * `permT` (run, j, perm, t_p).
    *
    * `pinBase` pins `base` (one row per hypothesis) for a driver-local
    * first level (q182/q196): the permutation plan then holds no
    * aggregate stage beside the expansion, so AQE creates its stages in
    * one fixed order. With two such stages racing the range broadcast,
    * the order they finish in renumbered the whole-stage classes on every
    * run, and each run recompiled them. */
  private[graft] def signFlipParts(s: SparkSession, firstLevel: DataFrame,
      pinBase: Boolean = false): (DataFrame, DataFrame) = {
    val base0 = firstLevel.groupBy("run", "j")
      .agg(expr("COUNT(*)").as("n"), expr("SUM(b_fp)").as("s1"),
        expr("SUM(CAST(b_fp AS DECIMAL(38,0)) * b_fp)").as("s2"))
      .selectExpr("run", "j", "n",
        "CAST(s1 AS DOUBLE) / (n * 1e6) AS m",
        "CAST(s2 AS DOUBLE) / 1e12 AS q")
      .selectExpr("run", "j", "n", "q", s"$permTStr AS t_obs")
    val base = if (pinBase) graft.util.Loops.pin(base0) else base0
    val perms = firstLevel
      .crossJoin(s.range(PermP).select(col("id").as("perm")))
      .selectExpr("run", "j", "perm",
        // sign = parity of h^2 mod P with h the keyed Knuth mix: the
        // SQUARE is the nonlinearity — any affine function of (perm, g)
        // gives near-alternating parities whose flips cancel (measured:
        // every pattern summed to ~0 and the permutation null collapsed)
        s"CASE WHEN (((perm * 2654435761L + g * 40503L + 17L) % ${graft.text.TextOps.P}L) * " +
          s"((perm * 2654435761L + g * 40503L + 17L) % ${graft.text.TextOps.P}L)) % ${graft.text.TextOps.P}L % 2 = 0 " +
          "THEN b_fp ELSE -b_fp END AS sb_fp")
      .groupBy("run", "j", "perm")
      .agg(expr("COUNT(*)").as("n"), expr("SUM(sb_fp)").as("sp"))
      .selectExpr("run", "j", "perm", "n",
        "CAST(sp AS DOUBLE) / (n * 1e6) AS m")
    val permT = perms.join(base.select("run", "j", "q"), Seq("run", "j"))
      .selectExpr("run", "j", "perm", s"$permTStr AS t_p")
    (base, permT)
  }

  /** (run, j, t_obs, p_perm) from a (run, j, b_fp) first-level relation. */
  private[graft] def signFlipCore(s: SparkSession, firstLevel: DataFrame): DataFrame = {
    val (base, permT) = signFlipParts(s, firstLevel)
    signFlipFromParts(base, permT)
  }

  /** The q148 tail over already-computed (base, permT) parts — split out
    * so multi-verdict chains (q155/q157/q182) compute the permutation
    * expansion ONCE and feed every consumer from the shared parts. */
  private[graft] def signFlipFromParts(base: DataFrame,
      permT: DataFrame): DataFrame = {
    permT.join(base.select("run", "j", "n", "t_obs"), Seq("run", "j"))
      .groupBy("run", "j")
      // a DEGENERATE pattern (flipped series with zero variance -> NULL
      // t_p) counts as an exceedance: its statistic is undefined, and a
      // permutation that cannot be shown smaller than the observed one
      // must not shrink the p-value (counting it 0 would be
      // anti-conservative; oracle-mirrored, spec-pinned)
      .agg(expr("MAX(n)").as("n"), expr("MAX(t_obs)").as("t_obs"),
        expr("SUM(CASE WHEN t_p IS NULL OR abs(t_p) >= abs(t_obs) THEN 1 ELSE 0 END)").as("n_ge"))
      .selectExpr("run", "j", "n", "round(t_obs, 6) AS t_obs",
        // an undefined test (zero variance -> NULL t_obs) must report
        // NULL, not the minimal p: every comparison against NULL counts
        // 0 exceedances, which would read as maximal significance
        s"CASE WHEN t_obs IS NULL THEN NULL ELSE " +
          s"round((1 + n_ge) / CAST(${1 + PermP} AS DOUBLE), 6) END AS p_perm")
      .orderBy("run", "j")
  }

  /** The (run, g, t, y_dec) per-run series — the first-level input shared
    * by [[multiRunFirstLevel]] and q160's per-subject covariate. */
  private def multiRunSeries(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select(
        (col("user_id") % 10).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $hourUs").as("th"),
        col("value").cast("decimal(18,2)").as("y_dec"))
      .filter(col("th") < Runs * Nr)
      .select(expr(s"th div $Nr").as("run"), expr(s"th % $Nr").as("t"),
        col("g"), col("y_dec"))
      .groupBy("run", "g", "t").agg(sum("y_dec").as("y_dec"))

  /** The (run, g, j, b_fp) first-level relation under the per-run fixed
    * designs — shared by q148/q151/q152. */
  private def multiRunFirstLevel(s: SparkSession, d: String): DataFrame = {
    val designs = (0 until Runs).map(r => (r.toLong, runDesign(r)))
    GlmOps.massGLMPackedPerKey(s, multiRunSeries(s, d), designs, "run", "g")
      .selectExpr("run", "g", "j", "CAST(round(beta * 1e6, 0) AS BIGINT) AS b_fp")
  }

  def signFlip(s: SparkSession, d: String): DataFrame =
    signFlipCore(s, multiRunFirstLevel(s, d))

  // ---- q151: Benjamini–Hochberg FDR over the permutation p-values ---------
  // The multiple-comparison step every mass analysis ends with: rank the
  // m = Runs·k permutation p-values ascending, find the largest k with
  // p_(k) ≤ k·α/m, reject hypotheses 1..k. α/m is an exact double
  // literal; p-values arrive 6-dp rounded, so every comparison is
  // boundary-free in both engines. Bounded work over the q148 relation.

  private val FdrAlphaOverM: Double = 0.1 / (Runs * 4)

  /** BH verdicts over a (run, j, ..., p_perm) relation.
    *
    * Ranking never runs a global window over the hypothesis relation: at
    * the mass regime BH ranks voxels×contrasts rows, and an unpartitioned
    * `row_number` is a single-partition sort of all of them. The
    * permutation p-values are quantized to the (1+n_ge)/(1+PermP) grid
    * (≤ 1+PermP distinct values), so the global rank reduces EXACTLY to
    * distinct-value cumulative counts: rk = (# rows with smaller p) +
    * (rank within the tie group, PARTITIONED by p). The only unpartitioned
    * window runs over the ≤257-row distinct-p relation.
    */
  private[graft] def fdrBhCore(pp0: DataFrame,
      alphaOverM: Double = FdrAlphaOverM): DataFrame = {
    // undefined hypotheses (NULL p from a zero-variance test) cannot be
    // ranked or rejected - and the engines order NULLs differently
    val pp = pp0.filter(col("p_perm").isNotNull)
    val byP = pp.groupBy("p_perm").agg(count(lit(1)).as("n_p"))
      .selectExpr("p_perm", "n_p",
        "CAST(COALESCE(SUM(n_p) OVER (ORDER BY p_perm ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before")
    // within a tie group p <= rk·α/m holds for the group's LAST rank if it
    // holds for any, so kbh needs only the distinct relation
    val kmax = byP.agg(expr(
      s"COALESCE(MAX(CASE WHEN p_perm <= (cum_before + n_p) * CAST($alphaOverM AS DOUBLE) THEN cum_before + n_p END), 0) AS kbh"))
    pp.join(broadcast(byP.select("p_perm", "cum_before")), Seq("p_perm"))
      .selectExpr("run", "j", "p_perm",
        "cum_before + row_number() OVER (PARTITION BY p_perm ORDER BY run ASC, j ASC) AS rk")
      .crossJoin(broadcast(kmax))
      .selectExpr("run", "j", "p_perm", "rk", "kbh", "rk <= kbh AS rejected")
      .orderBy("run", "j")
  }

  def fdrBh(s: SparkSession, d: String): DataFrame =
    fdrBhCore(signFlipCore(s, multiRunFirstLevel(s, d)))

  // ---- q152: Westfall–Young maxT (strong FWER control) --------------------
  // From the SAME permutation relation: p_maxT(run, j) = fraction of
  // patterns whose MAX |t| over ALL hypotheses meets |t_obs| — the
  // permutation analogue of Bonferroni that respects the hypotheses'
  // correlation structure. One bounded max per pattern + a tiny cross.

  private[graft] def maxTCore(s: SparkSession, firstLevel: DataFrame): DataFrame = {
    val (base, permT) = signFlipParts(s, firstLevel)
    maxTFromParts(base, permT)
  }

  /** The q152 tail over already-computed (base, permT) parts — see
    * [[signFlipFromParts]]. */
  private[graft] def maxTFromParts(base: DataFrame,
      permT: DataFrame): DataFrame = {
    val mx = permT.groupBy("perm").agg(expr("MAX(abs(t_p))").as("mx"))
    base.select("run", "j", "t_obs").crossJoin(broadcast(mx))
      .groupBy("run", "j")
      .agg(expr("MAX(t_obs)").as("t_obs"),
        expr("SUM(CASE WHEN mx >= abs(t_obs) THEN 1 ELSE 0 END)").as("n_ge"))
      .selectExpr("run", "j", "round(t_obs, 6) AS t_obs",
        s"CASE WHEN t_obs IS NULL THEN NULL ELSE " +
          s"round((1 + n_ge) / CAST(${1 + PermP} AS DOUBLE), 6) END AS p_maxt")
      .orderBy("run", "j")
  }

  def maxT(s: SparkSession, d: String): DataFrame =
    maxTCore(s, multiRunFirstLevel(s, d))

  /** The oracle's permutation CTE chain (fl, base, perms, pt, pp) —
    * shared verbatim by q148, q151, q152, q155, and (with the admitted-
    * cohort predicate) q156. */
  private def signFlipCtes: String = signFlipCtesWhere("")

  private def signFlipCtesWhere(flWhere: String): String =
    s"""$multiRunBetaCtes,
       |fl AS MATERIALIZED (
       |  SELECT run, g, j, CAST(round(beta * 1e6, 0) AS BIGINT) AS b_fp
       |  FROM gj2$flWhere
       |),
       |$permCtes""".stripMargin

  /** The permutation chain (base, perms, pt, pp) over an `fl` CTE of
    * (run, g, j, b_fp) first-level facts — shared by every first-level
    * flavor (the q103 OLS fit, the q157 AR(1) fit, a standing store). */
  private[queries] def permCtes: String =
    s"""base AS MATERIALIZED (
       |  SELECT run, j, n, q, $permTStr AS t_obs FROM (
       |    SELECT run, j, COUNT(*) AS n,
       |      CAST(SUM(b_fp) AS DOUBLE) / (COUNT(*) * 1e6) AS m,
       |      CAST(SUM(CAST(b_fp AS HUGEINT) * b_fp) AS DOUBLE) / 1e12 AS q
       |    FROM fl GROUP BY run, j)
       |),
       |perms AS MATERIALIZED (
       |  SELECT run, j, perm, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN (((perm * 2654435761 + g * 40503 + 17) % ${graft.text.TextOps.P}) *
       |        ((perm * 2654435761 + g * 40503 + 17) % ${graft.text.TextOps.P})) % ${graft.text.TextOps.P} % 2 = 0
       |      THEN b_fp ELSE -b_fp END) AS DOUBLE) / (COUNT(*) * 1e6) AS m
       |  FROM fl, (SELECT CAST(r.r AS BIGINT) AS perm FROM unnest(range($PermP)) AS r(r))
       |  GROUP BY run, j, perm
       |),
       |pt AS MATERIALIZED (
       |  SELECT perms.run, perms.j, perms.perm, $permTStr AS t_p
       |  FROM perms JOIN (SELECT run, j, q FROM base) b
       |    ON b.run = perms.run AND b.j = perms.j
       |),
       |pp AS MATERIALIZED (
       |  SELECT base.run AS run, CAST(base.j AS BIGINT) AS j,
       |    CAST(base.n AS BIGINT) AS n,
       |    round(base.t_obs, 6) AS t_obs,
       |    CASE WHEN base.t_obs IS NULL THEN NULL ELSE
       |      round((1 + SUM(CASE WHEN pt.t_p IS NULL OR abs(pt.t_p) >= abs(base.t_obs) THEN 1 ELSE 0 END))
       |        / CAST(${1 + PermP} AS DOUBLE), 6) END AS p_perm
       |  FROM pt JOIN base ON base.run = pt.run AND base.j = pt.j
       |  GROUP BY base.run, base.j, base.n, base.t_obs
       |)""".stripMargin

  private def signFlipSql: String =
    s"""WITH $signFlipCtes
       |SELECT run, j, n, t_obs, p_perm FROM pp
       |ORDER BY run, j""".stripMargin

  private def fdrBhSql: String =
    s"""WITH $signFlipCtes,
       |ranked AS (
       |  SELECT run, j, p_perm,
       |    CAST(row_number() OVER (ORDER BY p_perm ASC, run ASC, j ASC) AS BIGINT) AS rk
       |  FROM pp WHERE p_perm IS NOT NULL
       |),
       |km AS (
       |  SELECT COALESCE(MAX(CASE WHEN p_perm <= rk * CAST($FdrAlphaOverM AS DOUBLE) THEN rk END), 0) AS kbh
       |  FROM ranked
       |)
       |SELECT run, j, p_perm, rk, CAST(kbh AS BIGINT) AS kbh,
       |  rk <= kbh AS rejected
       |FROM ranked CROSS JOIN km
       |ORDER BY run, j""".stripMargin

  private def maxTSql: String =
    s"""WITH $signFlipCtes,
       |mx AS (SELECT perm, MAX(abs(t_p)) AS mx FROM pt GROUP BY perm)
       |SELECT base.run, CAST(base.j AS BIGINT) AS j,
       |  round(MAX(base.t_obs), 6) AS t_obs,
       |  CASE WHEN MAX(base.t_obs) IS NULL THEN NULL ELSE
       |    round((1 + SUM(CASE WHEN mx.mx >= abs(base.t_obs) THEN 1 ELSE 0 END))
       |      / CAST(${1 + PermP} AS DOUBLE), 6) END AS p_maxt
       |FROM base CROSS JOIN mx
       |GROUP BY base.run, base.j
       |ORDER BY base.run, base.j""".stripMargin

  // ---- q155: composed end-to-end inference chain --------------------------
  // The analytical counterpart of the q95/q120/q128 assembly family: the
  // whole second-level pipeline as ONE hash-checked relation — multi-run
  // first level (q103's fit), group GLM (q140), sign-flip permutation
  // null (q148), and BOTH corrected verdicts (q151 BH FDR, q152
  // Westfall–Young maxT) — so the nightly analysis emits one per-(run, j)
  // row of effect size + raw p + both corrections instead of four queries
  // stitched downstream. Scale shape: the first level's ONE data-sized
  // exchange, then every later stage is bounded at Runs·k hypotheses ×
  // PermP patterns; the first-level relation is localCheckpoint'ed so the
  // three consumers (second level, permutation null, maxT) share the
  // materialized Runs·Groups·k-row relation instead of re-running the fit.
  // kbh is reported only on ranked rows (NULL-p hypotheses keep NULL
  // rk/kbh and a false BH verdict; their maxT verdict is NULL) — the
  // same exclusion semantics as q151, oracle-mirrored.

  private[graft] def inferenceChainCore(s: SparkSession, fl0: DataFrame): DataFrame = {
    val fl = fl0.localCheckpoint()
    val second = secondLevel(fl.select("run", "j", "b_fp"))
    // base/permT are Runs·k(·PermP)-bounded; signFlipCore and maxTCore
    // each re-derived them from fl, running the whole fl×PermP expansion
    // TWICE per chain (r20 verdict item 4: 39 jobs, 71 KB plan on q157).
    // Compute the parts once, materialize them, feed all three verdict
    // consumers from the checkpoints. Their plans are the data-sized
    // fl×PermP expansion, so they stay distributed (fresh): a pin would
    // run that expansion single-partition on the pin session (r21's
    // q155/q156 regression).
    val (base0, permT0) = signFlipParts(s, fl)
    val base = graft.util.Loops.fresh(base0)
    val permT = graft.util.Loops.fresh(permT0)
    val sf = graft.util.Loops.fresh(
      signFlipFromParts(base, permT).select("run", "j", "t_obs", "p_perm"))
    val bh = fdrBhCore(sf).select("run", "j", "rk", "kbh", "rejected")
    val mt = maxTFromParts(base, permT).select("run", "j", "p_maxt")
    second.join(sf, Seq("run", "j"))
      .join(bh, Seq("run", "j"), "left")
      .join(mt, Seq("run", "j"))
      .selectExpr("run", "j", "n", "mean_beta", "t_group", "t_obs", "p_perm",
        "rk", "kbh", "COALESCE(rejected, false) AS rejected_bh",
        "p_maxt", "p_maxt <= 0.05 AS rejected_maxt")
      .orderBy("run", "j")
  }

  def inferenceChain(s: SparkSession, d: String): DataFrame =
    inferenceChainCore(s, multiRunFirstLevel(s, d))

  private def inferenceChainSql: String = inferenceChainSqlWhere("")

  private def inferenceChainSqlWhere(flWhere: String): String =
    s"""WITH ${signFlipCtesWhere(flWhere)},
       |$inferenceTailSql""".stripMargin

  /** The chain's tail (second level, BH ranking, maxT, final verdict
    * join) over the shared fl/base/pt/pp CTEs — reused verbatim by q155,
    * q156, and the AR(1)-first-level q157. */
  private def inferenceTailSql: String =
    s"""agg AS (
       |  SELECT run, j, COUNT(*) AS n, SUM(b_fp) AS s1,
       |    SUM(CAST(b_fp AS HUGEINT) * b_fp) AS s2
       |  FROM fl GROUP BY run, j
       |),
       |mv AS (
       |  SELECT run, j, n, $glMStr AS m, $glVStr AS v FROM agg
       |),
       |second AS (
       |  SELECT run, j, n, round(m, 6) AS mean_beta,
       |    round($glTStr, 6) AS t_group
       |  FROM mv
       |),
       |ranked AS (
       |  SELECT run, j, p_perm,
       |    CAST(row_number() OVER (ORDER BY p_perm ASC, run ASC, j ASC) AS BIGINT) AS rk
       |  FROM pp WHERE p_perm IS NOT NULL
       |),
       |km AS (
       |  SELECT COALESCE(MAX(CASE WHEN p_perm <= rk * CAST($FdrAlphaOverM AS DOUBLE) THEN rk END), 0) AS kbh
       |  FROM ranked
       |),
       |mx AS (SELECT perm, MAX(abs(t_p)) AS mx FROM pt GROUP BY perm),
       |mt AS (
       |  SELECT base.run AS run, base.j AS j,
       |    CASE WHEN MAX(base.t_obs) IS NULL THEN NULL ELSE
       |      round((1 + SUM(CASE WHEN mx.mx >= abs(base.t_obs) THEN 1 ELSE 0 END))
       |        / CAST(${1 + PermP} AS DOUBLE), 6) END AS p_maxt
       |  FROM base CROSS JOIN mx
       |  GROUP BY base.run, base.j
       |)
       |SELECT s.run, CAST(s.j AS BIGINT) AS j, CAST(s.n AS BIGINT) AS n,
       |  s.mean_beta, s.t_group, pp.t_obs, pp.p_perm,
       |  r.rk, CASE WHEN r.rk IS NOT NULL THEN CAST(km.kbh AS BIGINT) END AS kbh,
       |  COALESCE(r.rk <= km.kbh, false) AS rejected_bh,
       |  mt.p_maxt, mt.p_maxt <= 0.05 AS rejected_maxt
       |FROM second s
       |JOIN pp ON pp.run = s.run AND pp.j = s.j
       |LEFT JOIN ranked r ON r.run = s.run AND r.j = s.j
       |CROSS JOIN km
       |JOIN mt ON mt.run = s.run AND mt.j = s.j
       |ORDER BY s.run, s.j""".stripMargin

  // ---- q156: standing second level (incremental beta admission) -----------
  // The standing-store deployment of q155: first-level betas arrive PER
  // SUBJECT (the reference's acquisition pattern — convert2BIDS.sh:8
  // processes an `update/` drop directory) and persist in the
  // BetaStore; each admission is subject-bounded (Runs·k facts), and the
  // full inference chain (second level + permutation null + BH/maxT)
  // re-probes the bounded Runs·Groups·k store relation — never re-fitting
  // the corpus-sized series. The oracle computes the chain directly on
  // the admitted cohort's first level: hash match proves the two-stage
  // admission (build + append) ≡ the one-shot rebuild, the
  // q90/q110/q119/q143 precedent. Replay idempotency needs no batch
  // fingerprint: betas are deterministic facts keyed (run, g, j), so the
  // probe max-dedupes replays (see BetaStore scaladoc).

  def standingSecondLevel(s: SparkSession, d: String): DataFrame = {
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val name = s"graft_betas_$tag"
    val loc = s"${sys.props("java.io.tmpdir")}/graft_betas/$tag"
    if (!BetaStore.storeMatches(s, name, d)) {
      // the admitted cohort: subjects g >= 2 (g < 2 not yet acquired) —
      // admitted in two stages to exercise the append path on driver data
      val fl = multiRunFirstLevel(s, d).filter(col("g") >= 2).localCheckpoint()
      BetaStore.buildBetaStore(s, fl.filter(col("g") % 2 === 0), name, loc,
        datasetTag = s"$d:building")
      BetaStore.appendSubjects(s, fl.filter(col("g") % 2 === 1), name)
      import s.implicits._
      Seq(d).toDF("dataset_tag")
        .write.mode("overwrite").option("path", s"$loc/meta")
        .saveAsTable(s"${name}_meta")
    }
    inferenceChainCore(s, BetaStore.betaRelation(s, name))
  }

  // ---- q136: AR(1) prewhitened mass GLM (Cochrane–Orcutt) ---------------
  // The serial-correlation correction the flagship family still lacked:
  // fMRI GLM packages (SPM/FSL) never fit the ssm_loop design under a
  // white-noise assumption — they estimate an AR(1) residual model and
  // prewhiten (ssm_loop.py's betas are the white special case). Fully
  // in-engine AND hash-checked: (1) OLS betas via the q33 fixed-point
  // pinv literals, (2) per-group lag-1 residual autocorrelation rho_g
  // from exact-DECIMAL sums of rounded products, (3) whitened normal
  // equations — X*ᵀX* = A0 − rho(A1 + A1ᵀ) + rho²A2 where all three k×k
  // lag-moment matrices are LITERALS (X is the fixed q33 design), X*ᵀy*
  // is one per-group aggregate — solved per group by the SHARED
  // Gauss–Jordan string generator (gjStages), so both engines execute the
  // identical IEEE-754 op sequence and betas are bit-equal by
  // construction.
  //
  // Scale shape: ONE data-sized exchange (events → (g,t) partial-agg);
  // everything after is bounded at Groups×N rows regardless of input
  // size. The whitened re-fit never materializes a per-group design —
  // the rho-quadratic collapses it to literal matrix arithmetic.

  private val Groups = 20

  /** Driver-side literal lag moments over design rows t = 1..N-1:
    * A0 = Σ x_t x_tᵀ, A1 = Σ x_t x_{t-1}ᵀ, A2 = Σ x_{t-1} x_{t-1}ᵀ. */
  private lazy val lagMoments: (LinAlg.Mat, LinAlg.Mat, LinAlg.Mat) = {
    val k = design(0).length
    val a0 = Array.ofDim[Double](k, k)
    val a1 = Array.ofDim[Double](k, k)
    val a2 = Array.ofDim[Double](k, k)
    for (t <- 1 until N; i <- 0 until k; j <- 0 until k) {
      a0(i)(j) += design(t)(i) * design(t)(j)
      a1(i)(j) += design(t)(i) * design(t - 1)(j)
      a2(i)(j) += design(t - 1)(i) * design(t - 1)(j)
    }
    (a0, a1, a2)
  }

  // shared expression strings — the SAME text runs through Spark
  // selectExpr and the DuckDB oracle, so each stage's double math is the
  // identical parse tree on both engines
  private val eStr =
    "CAST(y AS DOUBLE) - (x0 * b_0 + x1 * b_1 + x2 * b_2)"
  private val rhoStr =
    "CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) ELSE 0.0 END"
  private def wbStr(j: Int) =
    s"SUM(CAST(round((x$j - rho * xl$j) * " +
      s"(CAST(y AS DOUBLE) - rho * CAST(y_lag AS DOUBLE)), 4) AS DECIMAL(38,4)))"
  private def mStr(i: Int, j: Int): String = {
    val (a0, a1, a2) = lagMoments
    s"((${a0(i)(j)}) - rho * ((${a1(i)(j)}) + (${a1(j)(i)})) " +
      s"+ rho * rho * (${a2(i)(j)}))"
  }

  /** The literal design-row relation (t, x0..x2, xl0..xl2) shared by the
    * residual chain's consumers. */
  private def xRelOf(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until N).map { t =>
      def xl(j: Int) = if (t > 0) design(t - 1)(j) else 0.0
      (t.toLong, design(t)(0), design(t)(1), design(t)(2), xl(0), xl(1), xl(2))
    }.toDF("t", "x0", "x1", "x2", "xl0", "xl1", "xl2")
  }

  /** OLS residual relation (g, t, y, e) from a grid-filled cents series —
    * the first-level chain shared by q136 (AR(1)) and q145 (despike). */
  private[graft] def residualRelation(s: SparkSession, full: DataFrame): DataFrame = {
    import s.implicits._
    val k = design(0).length
    val p = LinAlg.pinv(design)
    val wRel = (0 until N).map { t =>
      (t.toLong,
        math.rint(p(0)(t) * GlmOps.Scale).toLong,
        math.rint(p(1)(t) * GlmOps.Scale).toLong,
        math.rint(p(2)(t) * GlmOps.Scale).toLong)
    }.toDF("t", "w0", "w1", "w2")
    val betas = full.join(broadcast(wRel), Seq("t"))
      .groupBy("g")
      .agg(expr("SUM(CAST(w0 AS DECIMAL(38,0)) * y)").as("s_0"),
        expr("SUM(CAST(w1 AS DECIMAL(38,0)) * y)").as("s_1"),
        expr("SUM(CAST(w2 AS DECIMAL(38,0)) * y)").as("s_2"))
      .selectExpr("g" +:
        (0 until k).map(j => s"CAST(s_$j AS DOUBLE) / ${GlmOps.Scale}.0 AS b_$j"): _*)
    full.join(broadcast(xRelOf(s)), Seq("t"))
      .join(broadcast(betas), Seq("g"))
      .selectExpr("g", "t", "y", s"$eStr AS e")
  }

  /** The q136 body from the grid-filled (g, t, y-cents) relation —
    * separated so specs can feed planted series. */
  private[graft] def ar1Core(s: SparkSession, full0: DataFrame): DataFrame = {
    val k = design(0).length
    val xRel = xRelOf(s)
    // bounded (Groups·N rows) but carrying the data-sized exchange in
    // its lineage, and consumed from several places — pin it once (the
    // q157 lesson; shaves the repeated events scans)
    val full = full0.localCheckpoint()
    val res = residualRelation(s, full)
    val lagged = res.selectExpr("g", "t", "y", "e",
      "lag(y) OVER (PARTITION BY g ORDER BY t) AS y_lag",
      "lag(e) OVER (PARTITION BY g ORDER BY t) AS e_lag")
    val rg = lagged.groupBy("g")
      .agg(expr("SUM(CAST(round(e * e_lag, 4) AS DECIMAL(38,4)))").as("num"),
        expr("SUM(CAST(round(e_lag * e_lag, 4) AS DECIMAL(38,4)))").as("den"))
      .selectExpr("g", s"$rhoStr AS rho")
    val white = lagged.filter(col("t") >= 1)
      .join(broadcast(xRel), Seq("t"))
      .join(broadcast(rg), Seq("g"))
      .groupBy("g")
      .agg(expr(wbStr(0)).as("wb_0"), expr(wbStr(1)).as("wb_1"),
        expr(wbStr(2)).as("wb_2"))
    val init = white.join(broadcast(rg), Seq("g")).selectExpr(
      Seq("g", "rho") ++
        (for (i <- 0 until k; j <- 0 until k) yield s"${mStr(i, j)} AS d_${i}_$j") ++
        (0 until k).map(i => s"CAST(wb_$i AS DOUBLE) AS db_$i"): _*)
    val solved = gjStages(k, (i, j) => s"d_${i}_$j", i => s"db_$i")
      .foldLeft(init)((df, st) => df.selectExpr("g" +: "rho" +: st: _*))
    solved.selectExpr(("g" +: "round(rho, 6) AS rho" +:
      (0 until k).map(i => s"round(g${k - 1}_${i}_$k, 6) AS beta_$i")): _*)
      .orderBy("g")
  }

  /** The grid-filled per-group 6-h-bucket cents series (q136/q145 input). */
  private def fullSeries(s: SparkSession, d: String): DataFrame = {
    val ser = events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select((col("user_id") % Groups).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $bucketUs").as("t"),
        expr("cast(floor(value * 100 + 0.5D) as bigint)").as("fpv"))
      .filter(col("t") < N)
      .groupBy("g", "t").agg(sum("fpv").as("y"))
    val grid = s.range(Groups).select(col("id").as("g"))
      .crossJoin(s.range(N).select(col("id").as("t")))
    grid.join(ser, Seq("g", "t"), "left").na.fill(0L, Seq("y"))
  }

  /** q136: grid-filled per-group 6-h-bucket cents series → ar1Core. */
  def ar1Glm(s: SparkSession, d: String): DataFrame =
    ar1Core(s, fullSeries(s, d))

  /** The oracle's grid-filled cents series (ser/grid/filled) — the SQL
    * twin of [[fullSeries]], shared by q136/q145/q146. */
  private def filledSeriesCtes: String =
    s"""ser AS (
       |  SELECT user_id % $Groups AS g,
       |    (epoch_us(ts) - $baseUs) // $bucketUs AS t,
       |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
       |  FROM events
       |  WHERE epoch_us(ts) - $baseUs >= 0
       |    AND (epoch_us(ts) - $baseUs) // $bucketUs < $N
       |  GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT CAST(gg.g AS BIGINT) AS g, CAST(tt.t AS BIGINT) AS t
       |  FROM unnest(range($Groups)) AS gg(g)
       |  CROSS JOIN unnest(range($N)) AS tt(t)
       |),
       |filled AS (
       |  SELECT grid.g, grid.t, COALESCE(ser.y, 0) AS y
       |  FROM grid LEFT JOIN ser ON ser.g = grid.g AND ser.t = grid.t
       |)""".stripMargin

  /** The oracle's residual-chain prefix (w/x literals, grid-filled
    * series, OLS betas, res) — shared verbatim by q136 and q145. */
  private def ar1ResidCtes: String = {
    val k = design(0).length
    val p = LinAlg.pinv(design)
    val wRows = (0 until N).map { t =>
      s"($t, ${math.rint(p(0)(t) * GlmOps.Scale).toLong}, " +
        s"${math.rint(p(1)(t) * GlmOps.Scale).toLong}, " +
        s"${math.rint(p(2)(t) * GlmOps.Scale).toLong})"
    }
    val xRows = (0 until N).map { t =>
      def xl(j: Int) = if (t > 0) design(t - 1)(j) else 0.0
      s"($t, ${design(t)(0)}, ${design(t)(1)}, ${design(t)(2)}, " +
        s"${xl(0)}, ${xl(1)}, ${xl(2)})"
    }
    val sCols = (0 until k)
      .map(j => s"SUM(CAST(w$j AS HUGEINT) * y) AS s_$j").mkString(",\n    ")
    val bCols = (0 until k)
      .map(j => s"CAST(s_$j AS DOUBLE) / ${GlmOps.Scale}.0 AS b_$j").mkString(", ")
    s"""w(t, w0, w1, w2) AS (VALUES ${wRows.mkString(", ")}),
       |x(t, x0, x1, x2, xl0, xl1, xl2) AS (VALUES ${xRows.mkString(", ")}),
       |$filledSeriesCtes,
       |ols AS (
       |  SELECT g,
       |    $sCols
       |  FROM filled JOIN w USING (t) GROUP BY g
       |),
       |betas AS (SELECT g, $bCols FROM ols),
       |res AS (
       |  SELECT filled.g, filled.t, filled.y, $eStr AS e
       |  FROM filled JOIN x USING (t) JOIN betas USING (g)
       |)""".stripMargin
  }

  private def ar1GlmSql: String = {
    val k = design(0).length
    val wbCols = (0 until k).map(j => s"${wbStr(j)} AS wb_$j").mkString(",\n    ")
    val dCols = ((for (i <- 0 until k; j <- 0 until k)
      yield s"${mStr(i, j)} AS d_${i}_$j") ++
      (0 until k).map(i => s"CAST(wb_$i AS DOUBLE) AS db_$i")).mkString(",\n    ")
    val stages = gjStages(k, (i, j) => s"d_${i}_$j", i => s"db_$i")
    val stageCtes = stages.zipWithIndex.map { case (st, pi) =>
      val prev = if (pi == 0) "init" else s"st${pi - 1}"
      s"st$pi AS (\n  SELECT g, rho, ${st.mkString(",\n    ")}\n  FROM $prev\n)"
    }.mkString(",\n")
    val out = (0 until k)
      .map(i => s"round(g${k - 1}_${i}_$k, 6) AS beta_$i").mkString(", ")
    s"""WITH $ar1ResidCtes,
       |lagged AS (
       |  SELECT g, t, y, e,
       |    lag(y) OVER (PARTITION BY g ORDER BY t) AS y_lag,
       |    lag(e) OVER (PARTITION BY g ORDER BY t) AS e_lag
       |  FROM res
       |),
       |rg AS (
       |  SELECT g, $rhoStr AS rho FROM (
       |    SELECT g,
       |      SUM(CAST(round(e * e_lag, 4) AS DECIMAL(38,4))) AS num,
       |      SUM(CAST(round(e_lag * e_lag, 4) AS DECIMAL(38,4))) AS den
       |    FROM lagged GROUP BY g)
       |),
       |white AS (
       |  SELECT g,
       |    $wbCols
       |  FROM lagged JOIN x USING (t) JOIN rg USING (g)
       |  WHERE t >= 1
       |  GROUP BY g
       |),
       |init AS (
       |  SELECT g, rho,
       |    $dCols
       |  FROM white JOIN rg USING (g)
       |),
       |$stageCtes
       |SELECT g, round(rho, 6) AS rho, $out
       |FROM st${k - 1}
       |ORDER BY g""".stripMargin
  }

  // ---- q157: AR(1) multi-run first level → full inference chain ----------
  // The chain the r14 verdict described, now with the SERIALLY-CORRECT
  // first level: q136's Cochrane–Orcutt prewhitening generalized to the
  // per-run designs (runDesign differs per run, so pinv, the lag-moment
  // matrices, and the design rows all become run-keyed literal RELATIONS
  // instead of scalar literals), feeding the identical second-level
  // machinery (group GLM → sign-flip null → BH + maxT) via
  // inferenceChainCore. Determinism is q136's: exact DECIMAL sums
  // everywhere data-sized, rho and the whitened normal equations through
  // SHARED expression strings (d_ij references the broadcast a-relation's
  // columns — same text both engines), the k-stage Gauss–Jordan solved by
  // the shared generator, betas bit-equal by construction. Oracle VALUES
  // print doubles with an E0 suffix: DuckDB parses bare decimal literals
  // as DECIMAL and the cast to DOUBLE can lose 1 ulp (measured on the
  // DCT values); the exponent form parses as DOUBLE exactly.
  // Scale shape: ONE data-sized exchange (events → (run,g,t)
  // partial-agg); everything after is bounded at Runs·Groups·Nr rows;
  // the permutation/verdict tail is the q155 shape.

  private val K157 = 4

  private lazy val runPinv: Seq[LinAlg.Mat] =
    (0 until Runs).map(r => LinAlg.pinv(runDesign(r)))

  private lazy val runLagMoments: Seq[(LinAlg.Mat, LinAlg.Mat, LinAlg.Mat)] =
    (0 until Runs).map { r =>
      val x = runDesign(r)
      val a0 = Array.ofDim[Double](K157, K157)
      val a1 = Array.ofDim[Double](K157, K157)
      val a2 = Array.ofDim[Double](K157, K157)
      for (t <- 1 until Nr; i <- 0 until K157; j <- 0 until K157) {
        a0(i)(j) += x(t)(i) * x(t)(j)
        a1(i)(j) += x(t)(i) * x(t - 1)(j)
        a2(i)(j) += x(t - 1)(i) * x(t - 1)(j)
      }
      (a0, a1, a2)
    }

  private val e157Str =
    "CAST(y AS DOUBLE) - (x0 * b_0 + x1 * b_1 + x2 * b_2 + x3 * b_3)"

  /** Whitened normal-equation entry from the run-keyed moment COLUMNS —
    * q136's mStr with literals replaced by the a-relation's columns. */
  private def d157Str(i: Int, j: Int): String =
    s"(a0_${i}_$j - rho * (a1_${i}_$j + a1_${j}_$i) + rho * rho * a2_${i}_$j)"

  /** Exact-double literal for the oracle: DuckDB types a bare decimal
    * literal DECIMAL and the DOUBLE cast can be 1 ulp off; the exponent
    * form parses as DOUBLE with correct rounding. */
  private def dlit(v: Double): String = {
    val s = v.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  private def wRel157Of(s: SparkSession): DataFrame = {
    import s.implicits._
    (for (r <- 0 until Runs; t <- 0 until Nr) yield
      (r.toLong, t.toLong,
        math.rint(runPinv(r)(0)(t) * GlmOps.Scale).toLong,
        math.rint(runPinv(r)(1)(t) * GlmOps.Scale).toLong,
        math.rint(runPinv(r)(2)(t) * GlmOps.Scale).toLong,
        math.rint(runPinv(r)(3)(t) * GlmOps.Scale).toLong))
      .toDF("run", "t", "w0", "w1", "w2", "w3")
  }

  private def xRel157Of(s: SparkSession): DataFrame = {
    import s.implicits._
    (for (r <- 0 until Runs; t <- 0 until Nr) yield {
      val x = runDesign(r)
      def xl(j: Int) = if (t > 0) x(t - 1)(j) else 0.0
      (r.toLong, t.toLong, x(t)(0), x(t)(1), x(t)(2), x(t)(3),
        xl(0), xl(1), xl(2), xl(3))
    }).toDF("run", "t", "x0", "x1", "x2", "x3", "xl0", "xl1", "xl2", "xl3")
  }

  private def aRel157Of(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val fields = StructField("run", LongType) +:
      (for (m <- 0 to 2; i <- 0 until K157; j <- 0 until K157)
        yield StructField(s"a${m}_${i}_$j", DoubleType, nullable = false))
    val rows: Seq[Row] = (0 until Runs).map { r =>
      val (a0, a1, a2) = runLagMoments(r)
      Row.fromSeq(r.toLong +:
        (for (m <- 0 to 2; i <- 0 until K157; j <- 0 until K157)
          yield Seq(a0, a1, a2)(m)(i)(j)))
    }
    s.createDataFrame(rows.asJava, StructType(fields.toArray))
  }

  private[graft] def ar1MultiRunFirstLevel(s: SparkSession, d: String): DataFrame = {
    val ser = events(s, d)
      .filter(expr(s"ts div 1000 - $baseUs >= 0"))
      .select((col("user_id") % 10).as("g"),
        expr(s"(ts div 1000 - $baseUs) div $hourUs").as("th"),
        expr("cast(floor(value * 100 + 0.5D) as bigint)").as("fpv"))
      .filter(col("th") < Runs * Nr)
      .select(expr(s"th div $Nr").as("run"), expr(s"th % $Nr").as("t"),
        col("g"), col("fpv"))
      .groupBy("run", "g", "t").agg(sum("fpv").as("y"))
    val grid = s.range(Runs).select(col("id").as("run"))
      .crossJoin(s.range(10).select(col("id").as("g")))
      .crossJoin(s.range(Nr).select(col("id").as("t")))
    ar1MultiRunFirstLevelCore(s,
      grid.join(ser, Seq("run", "g", "t"), "left").na.fill(0L, Seq("y")))
  }

  /** The AR(1) multi-run fit from a grid-filled (run, g, t, y-cents)
    * relation — split out so specs can feed planted series. */
  private[graft] def ar1MultiRunFirstLevelCore(s: SparkSession,
      filled0: DataFrame): DataFrame = {
    val k = K157
    // the grid-filled series is BOUNDED (Runs·Groups·Nr rows) but its
    // lineage holds the one data-sized exchange — and the chain consumes
    // it from four places (betas, res, and lagged's two readers), which
    // would re-run the events scan each time. Pin it once.
    val filled = filled0.localCheckpoint()
    val betas = filled.join(broadcast(wRel157Of(s)), Seq("run", "t"))
      .groupBy("run", "g")
      .agg(expr("SUM(CAST(w0 AS DECIMAL(38,0)) * y)").as("s_0"),
        expr("SUM(CAST(w1 AS DECIMAL(38,0)) * y)").as("s_1"),
        expr("SUM(CAST(w2 AS DECIMAL(38,0)) * y)").as("s_2"),
        expr("SUM(CAST(w3 AS DECIMAL(38,0)) * y)").as("s_3"))
      .selectExpr("run" +: "g" +:
        (0 until k).map(j => s"CAST(s_$j AS DOUBLE) / ${GlmOps.Scale}.0 AS b_$j"): _*)
    val xRel = xRel157Of(s)
    val res = filled.join(broadcast(xRel), Seq("run", "t"))
      .join(broadcast(betas), Seq("run", "g"))
      .selectExpr("run", "g", "t", "y", s"$e157Str AS e")
    val lagged = res.selectExpr("run", "g", "t", "y", "e",
      "lag(y) OVER (PARTITION BY run, g ORDER BY t) AS y_lag",
      "lag(e) OVER (PARTITION BY run, g ORDER BY t) AS e_lag")
    val rg = lagged.groupBy("run", "g")
      .agg(expr("SUM(CAST(round(e * e_lag, 4) AS DECIMAL(38,4)))").as("num"),
        expr("SUM(CAST(round(e_lag * e_lag, 4) AS DECIMAL(38,4)))").as("den"))
      .selectExpr("run", "g", s"$rhoStr AS rho")
    val white = lagged.filter(col("t") >= 1)
      .join(broadcast(xRel), Seq("run", "t"))
      .join(broadcast(rg), Seq("run", "g"))
      .groupBy("run", "g")
      .agg(expr(wbStr(0)).as("wb_0"), expr(wbStr(1)).as("wb_1"),
        expr(wbStr(2)).as("wb_2"), expr(wbStr(3)).as("wb_3"))
    val init = white.join(broadcast(rg), Seq("run", "g"))
      .join(broadcast(aRel157Of(s)), Seq("run"))
      .selectExpr(Seq("run", "g", "rho") ++
        (for (i <- 0 until k; j <- 0 until k)
          yield s"${d157Str(i, j)} AS d_${i}_$j") ++
        (0 until k).map(i => s"CAST(wb_$i AS DOUBLE) AS db_$i"): _*)
    val solved = gjStages(k, (i, j) => s"d_${i}_$j", i => s"db_$i")
      .foldLeft(init)((df, st) => df.selectExpr("run" +: "g" +: "rho" +: st: _*))
    solved.selectExpr("run", "g",
      s"stack($k, ${(0 until k).map(i =>
          s"CAST($i AS BIGINT), CAST(round(g${k - 1}_${i}_$k * 1e6, 0) AS BIGINT)")
        .mkString(", ")}) AS (j, b_fp)")
  }

  def ar1Chain(s: SparkSession, d: String): DataFrame =
    inferenceChainCore(s, ar1MultiRunFirstLevel(s, d))

  private def ar1ChainSql: String = {
    val k = K157
    val wRows = for (r <- 0 until Runs; t <- 0 until Nr) yield
      s"($r, $t, ${(0 until k).map(j =>
        math.rint(runPinv(r)(j)(t) * GlmOps.Scale).toLong).mkString(", ")})"
    val xRows = for (r <- 0 until Runs; t <- 0 until Nr) yield {
      val x = runDesign(r)
      def xl(j: Int) = if (t > 0) x(t - 1)(j) else 0.0
      s"($r, $t, ${(0 until k).map(j => dlit(x(t)(j))).mkString(", ")}, " +
        s"${(0 until k).map(j => dlit(xl(j))).mkString(", ")})"
    }
    val aCols = (for (m <- 0 to 2; i <- 0 until k; j <- 0 until k)
      yield s"a${m}_${i}_$j").mkString(", ")
    val aRows = (0 until Runs).map { r =>
      val (a0, a1, a2) = runLagMoments(r)
      val vals = for (m <- 0 to 2; i <- 0 until k; j <- 0 until k)
        yield dlit(Seq(a0, a1, a2)(m)(i)(j))
      s"($r, ${vals.mkString(", ")})"
    }
    val sCols = (0 until k)
      .map(j => s"SUM(CAST(w$j AS HUGEINT) * y) AS s_$j").mkString(",\n    ")
    val bCols = (0 until k)
      .map(j => s"CAST(s_$j AS DOUBLE) / ${GlmOps.Scale}.0 AS b_$j").mkString(", ")
    val wbCols = (0 until k).map(j => s"${wbStr(j)} AS wb_$j").mkString(",\n    ")
    val dCols = ((for (i <- 0 until k; j <- 0 until k)
      yield s"${d157Str(i, j)} AS d_${i}_$j") ++
      (0 until k).map(i => s"CAST(wb_$i AS DOUBLE) AS db_$i")).mkString(",\n    ")
    val stages = gjStages(k, (i, j) => s"d_${i}_$j", i => s"db_$i")
    val stageCtes = stages.zipWithIndex.map { case (st, pi) =>
      val prev = if (pi == 0) "init" else s"st${pi - 1}"
      s"st$pi AS (\n  SELECT run, g, rho, ${st.mkString(",\n    ")}\n  FROM $prev\n)"
    }.mkString(",\n")
    val unpiv = (0 until k).map(i =>
      s"SELECT run, g, CAST($i AS BIGINT) AS j, g${k - 1}_${i}_$k AS beta FROM st${k - 1}")
      .mkString("\n  UNION ALL ")
    s"""WITH w(run, t, ${(0 until k).map(j => s"w$j").mkString(", ")}) AS (VALUES ${wRows.mkString(", ")}),
       |x(run, t, ${(0 until k).map(j => s"x$j").mkString(", ")}, ${(0 until k).map(j => s"xl$j").mkString(", ")}) AS (VALUES ${xRows.mkString(", ")}),
       |a(run, $aCols) AS (VALUES ${aRows.mkString(", ")}),
       |ser AS (
       |  SELECT user_id % 10 AS g,
       |    ((epoch_us(ts) - $baseUs) // $hourUs) // $Nr AS run,
       |    ((epoch_us(ts) - $baseUs) // $hourUs) % $Nr AS t,
       |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
       |  FROM events
       |  WHERE (epoch_us(ts) - $baseUs) >= 0
       |    AND (epoch_us(ts) - $baseUs) // $hourUs < ${Runs * Nr}
       |  GROUP BY 1, 2, 3
       |),
       |grid AS (
       |  SELECT CAST(rr.r AS BIGINT) AS run, CAST(gg.g AS BIGINT) AS g,
       |    CAST(tt.t AS BIGINT) AS t
       |  FROM unnest(range($Runs)) AS rr(r)
       |  CROSS JOIN unnest(range(10)) AS gg(g)
       |  CROSS JOIN unnest(range($Nr)) AS tt(t)
       |),
       |filled AS (
       |  SELECT grid.run, grid.g, grid.t, COALESCE(ser.y, 0) AS y
       |  FROM grid LEFT JOIN ser
       |    ON ser.run = grid.run AND ser.g = grid.g AND ser.t = grid.t
       |),
       |ols AS (
       |  SELECT run, g,
       |    $sCols
       |  FROM filled JOIN w USING (run, t) GROUP BY run, g
       |),
       |betas AS (SELECT run, g, $bCols FROM ols),
       |res AS (
       |  SELECT filled.run, filled.g, filled.t, filled.y, $e157Str AS e
       |  FROM filled JOIN x USING (run, t) JOIN betas USING (run, g)
       |),
       |lagged AS (
       |  SELECT run, g, t, y, e,
       |    lag(y) OVER (PARTITION BY run, g ORDER BY t) AS y_lag,
       |    lag(e) OVER (PARTITION BY run, g ORDER BY t) AS e_lag
       |  FROM res
       |),
       |rg AS (
       |  SELECT run, g, $rhoStr AS rho FROM (
       |    SELECT run, g,
       |      SUM(CAST(round(e * e_lag, 4) AS DECIMAL(38,4))) AS num,
       |      SUM(CAST(round(e_lag * e_lag, 4) AS DECIMAL(38,4))) AS den
       |    FROM lagged GROUP BY run, g)
       |),
       |white AS (
       |  SELECT run, g,
       |    $wbCols
       |  FROM lagged JOIN x USING (run, t) JOIN rg USING (run, g)
       |  WHERE t >= 1
       |  GROUP BY run, g
       |),
       |init AS (
       |  SELECT run, g, rho,
       |    $dCols
       |  FROM white JOIN rg USING (run, g) JOIN a USING (run)
       |),
       |$stageCtes,
       |fl AS MATERIALIZED (
       |  SELECT run, g, j, CAST(round(beta * 1e6, 0) AS BIGINT) AS b_fp
       |  FROM ($unpiv)
       |),
       |$permCtes,
       |$inferenceTailSql""".stripMargin
  }

  // ---- q145: MAD despiking of the per-group series -----------------------
  // AFNI 3dDespike's shape, simplified to the engine's fixed design: fit
  // the smooth trend (the q33 OLS), measure residual spread ROBUSTLY
  // (median absolute deviation — a spike cannot inflate its own
  // detection threshold the way σ would), and clip any residual beyond
  // 2.5·1.4826·MAD (AFNI's default c1 = 2.5, in σ-equivalent units) to
  // the threshold boundary, preserving the trend.
  // Medians are order statistics (order-free — no float-sum rounding
  // needed); Spark `percentile` and DuckDB `quantile_cont` share type-7
  // interpolation (the q53 contract). Scale shape: the one (g,t)
  // exchange, then bounded Groups×N work; two tiny per-group medians.

  private val despikeThrStr =
    "2.5 * (1.4826 * mad)"

  private[graft] def despikeCore(s: SparkSession, full0: DataFrame): DataFrame = {
    val full = full0.localCheckpoint()
    val res = residualRelation(s, full)
    val med = res.groupBy("g").agg(expr("percentile(e, 0.5)").as("med"))
    val dev = res.join(broadcast(med), Seq("g"))
    val mad = dev.groupBy("g")
      .agg(expr("percentile(abs(e - med), 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("g"))
      .selectExpr("g", "t", "y",
        s"CASE WHEN abs(e - med) > $despikeThrStr THEN 1 ELSE 0 END AS is_spike",
        s"round(CASE WHEN abs(e - med) > $despikeThrStr THEN " +
          s"(CAST(y AS DOUBLE) - e) + med + " +
          s"(CASE WHEN e > med THEN $despikeThrStr ELSE -($despikeThrStr) END) " +
          s"ELSE CAST(y AS DOUBLE) END, 6) AS y_despiked")
      .selectExpr("g", "t", "y", "CAST(is_spike AS BIGINT) AS is_spike",
        "y_despiked")
      .orderBy("g", "t")
  }

  def despike(s: SparkSession, d: String): DataFrame =
    despikeCore(s, fullSeries(s, d))

  private def despikeSql: String =
    s"""WITH $ar1ResidCtes,
       |med AS (SELECT g, quantile_cont(e, 0.5) AS med FROM res GROUP BY g),
       |dev AS (SELECT res.*, med.med FROM res JOIN med USING (g)),
       |mad AS (SELECT g, quantile_cont(abs(e - med), 0.5) AS mad
       |        FROM dev GROUP BY g)
       |SELECT dev.g, dev.t, CAST(dev.y AS BIGINT) AS y,
       |  CAST(CASE WHEN abs(e - med) > $despikeThrStr THEN 1 ELSE 0 END AS BIGINT) AS is_spike,
       |  round(CASE WHEN abs(e - med) > $despikeThrStr THEN
       |    (CAST(y AS DOUBLE) - e) + med +
       |    (CASE WHEN e > med THEN $despikeThrStr ELSE -($despikeThrStr) END)
       |    ELSE CAST(y AS DOUBLE) END, 6) AS y_despiked
       |FROM dev JOIN mad USING (g)
       |ORDER BY g, t""".stripMargin

  // ---- q146: ALFF / fALFF spectral power ----------------------------------
  // The resting-state staple (Zang et al. 2007): per series, the
  // amplitude of low-frequency fluctuation is the power in a low band,
  // fALFF its fraction of total power. On the engine's grid this is
  // PURE PROJECTION arithmetic: band power = Σ_k c_k² over DCT-II
  // coefficients c_k = Σ_t w_kt·y_t with fixed-point literal weights —
  // exact BIGINT sums per coefficient, then one shared expression string
  // squares and ratios them. Same one-exchange shape as q33.

  private val AlffK = 8 // DCT coefficients 1..8; low band = 1..4
  private val AlffLow = 4

  private def dctW(k: Int, t: Int): Long =
    math.rint(math.cos(math.Pi * (2 * t + 1) * k / (2.0 * N)) *
      GlmOps.Scale).toLong

  // shared strings over c_1..c_AlffK (doubles)
  private def powStr(ks: Range): String =
    ks.map(k => s"c_$k * c_$k").mkString(" + ")
  private def alffStr = s"sqrt(${powStr(1 to AlffLow)})"
  private def falffStr =
    s"CASE WHEN ${powStr(1 to AlffK)} > 0 THEN " +
      s"sqrt(${powStr(1 to AlffLow)}) / sqrt(${powStr(1 to AlffK)}) END"

  private[graft] def alffCore(s: SparkSession, full: DataFrame): DataFrame = {
    import s.implicits._
    val dRel = (0 until N).map { t =>
      t.toLong +: (1 to AlffK).map(k => dctW(k, t)).toList
    }.map {
      case t :: ws => (t, ws(0), ws(1), ws(2), ws(3), ws(4), ws(5), ws(6), ws(7))
      case _ => throw new IllegalStateException("unreachable")
    }.toDF("t" +: (1 to AlffK).map(k => s"d_$k"): _*)
    full.join(broadcast(dRel), Seq("t"))
      .groupBy("g")
      .agg(expr(s"SUM(CAST(d_1 AS DECIMAL(38,0)) * y)").as("s_1"),
        (2 to AlffK).map(k =>
          expr(s"SUM(CAST(d_$k AS DECIMAL(38,0)) * y)").as(s"s_$k")): _*)
      .selectExpr("g" +:
        (1 to AlffK).map(k => s"CAST(s_$k AS DOUBLE) / ${GlmOps.Scale}.0 AS c_$k"): _*)
      .selectExpr("g", s"round($alffStr, 6) AS alff",
        s"round($falffStr, 6) AS falff")
      .orderBy("g")
  }

  def alff(s: SparkSession, d: String): DataFrame =
    alffCore(s, fullSeries(s, d))

  private def alffSql: String = {
    val dRows = (0 until N).map { t =>
      s"($t, ${(1 to AlffK).map(k => dctW(k, t)).mkString(", ")})"
    }
    val sCols = (1 to AlffK)
      .map(k => s"SUM(CAST(d_$k AS HUGEINT) * y) AS s_$k").mkString(",\n    ")
    val cCols = (1 to AlffK)
      .map(k => s"CAST(s_$k AS DOUBLE) / ${GlmOps.Scale}.0 AS c_$k").mkString(", ")
    s"""WITH dw(t, ${(1 to AlffK).map(k => s"d_$k").mkString(", ")}) AS (VALUES ${dRows.mkString(", ")}),
       |$filledSeriesCtes,
       |sums AS (
       |  SELECT g,
       |    $sCols
       |  FROM filled JOIN dw USING (t) GROUP BY g
       |),
       |coef AS (SELECT g, $cCols FROM sums)
       |SELECT g, round($alffStr, 6) AS alff,
       |  round($falffStr, 6) AS falff
       |FROM coef
       |ORDER BY g""".stripMargin
  }

  override def queries: Seq[Q] = Seq(
    Q("q30_ols_group", olsGroup, Some(olsGroupSql)),
    Q("q31_ols_residuals", olsResiduals, Some(olsResidualsSql)),
    Q("q32_ols_pvalues", olsPValues, None),
    Q("q33_mass_glm_betas", massGlmBetas, Some(massGlmSql)),
    Q("q60_mass_glm_stats", massGlmStats, Some(massGlmStatsSql)),
    Q("q70_mass_glm_residuals", massGlmResiduals, Some(massGlmResidualsSql)),
    Q("q103_multi_run_glm", multiRunGlm, Some(multiRunGlmSql)),
    Q("q116_normal_glm", normalGlm, Some(normalGlmSql)),
    Q("q136_ar1_glm", ar1Glm, Some(ar1GlmSql)),
    Q("q140_group_glm", groupGlm, Some(groupGlmSql)),
    Q("q141_contrast_glm", contrastGlm, Some(contrastGlmSql)),
    Q("q145_despike", despike, Some(despikeSql)),
    Q("q146_alff", alff, Some(alffSql)),
    Q("q148_sign_flip", signFlip, Some(signFlipSql)),
    Q("q151_fdr_bh", fdrBh, Some(fdrBhSql)),
    Q("q152_maxt", maxT, Some(maxTSql)),
    Q("q155_inference_chain", inferenceChain, Some(inferenceChainSql)),
    Q("q156_standing_second_level", standingSecondLevel,
      Some(inferenceChainSqlWhere(" WHERE g >= 2"))),
    Q("q157_ar1_chain", ar1Chain, Some(ar1ChainSql)),
    Q("q160_ancova_glm", ancovaGlm, Some(ancovaGlmSql)),
    Q("q162_censored_glm", censoredGlm, Some(censoredGlmSql)),
    Q("q164_censored_group_glm", censoredGroupGlm, Some(censoredGroupGlmSql)),
  )
}
