package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
import graft.util.Tables._
import graft.design.DesignOps
import graft.image.ImageOps

/** Design-matrix completion (W4 HRF convolution, W5 DCT, W6 poly) and the
  * voxel-grid image algebra (I1-I5, J3+A8 stencil mode, A9 smoothing,
  * A4/A5 reductions, S3/S4 catalog entity extraction).
  */
object DesignImage extends QueryModule {

  private val L = 16 // voxel grid side

  private val duckGrid =
    s"""grid AS (
       |  SELECT CAST(l_orderkey % $L AS INTEGER) AS x,
       |         CAST(l_partkey % $L AS INTEGER) AS y,
       |         CAST(l_suppkey % $L AS INTEGER) AS z,
       |         CAST(MIN((l_partkey * 7 + l_suppkey) % 60) AS INTEGER) AS label,
       |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS value_dec
       |  FROM lineitem GROUP BY 1, 2, 3
       |)""".stripMargin

  private val asegList = ImageOps.AsegCodes.mkString(", ")

  // ---- q34: DCT basis + polynomial trend ---------------------------------

  def dctPoly(s: SparkSession, d: String): DataFrame = {
    val n = 120
    val tl = DesignOps.timeline(s, n, 1.0)
    val dm = DesignOps.dctBasis(DesignOps.polyTrend(tl, n, 1), n, 4)
    dm.select(
      col("t"),
      col("poly0"),
      round(col("poly1"), 6).as("poly1"),
      round(col("dct1"), 6).as("dct1"),
      round(col("dct2"), 6).as("dct2"),
      round(col("dct3"), 6).as("dct3"),
      round(col("dct4"), 6).as("dct4"),
    ).orderBy("t")
  }

  private val dctPolySql =
    """SELECT CAST(g AS BIGINT) AS t,
      |  CAST(1.0 AS DOUBLE) AS poly0,
      |  round((g - 59.5) / 120.0, 6) AS poly1,
      |  round(cos(3.141592653589793 * 1 * (2*g + 1) / 240.0), 6) AS dct1,
      |  round(cos(3.141592653589793 * 2 * (2*g + 1) / 240.0), 6) AS dct2,
      |  round(cos(3.141592653589793 * 3 * (2*g + 1) / 240.0), 6) AS dct3,
      |  round(cos(3.141592653589793 * 4 * (2*g + 1) / 240.0), 6) AS dct4
      |FROM generate_series(0, 119) AS gs(g)
      |ORDER BY t""".stripMargin

  // ---- q35: HRF convolution of the boxcar design -------------------------

  private val kernelLen = 24

  def hrfConvolve(s: SparkSession, d: String): DataFrame = {
    val baseUs = 1704067200000000L
    val trials = events(s, d).select(
      ((expr("ts div 1000") - baseUs) / 1000000.0).as("onset"),
      col("value").as("duration"),
      col("event_type").as("trial_type"),
    )
    val tl = DesignOps.timeline(s, 168, 3600.0)
    val box = DesignOps.boxcar(tl, trials, Seq("click", "purchase"), 3600.0, 168L)
    DesignOps
      .convolve(box, s, DesignOps.hrfKernelInts(1.0, kernelLen),
        Seq("click", "purchase"), 168)
      .orderBy("t")
  }

  private def hrfConvolveSql: String = {
    val kern = DesignOps.hrfKernelInts(1.0, kernelLen).zipWithIndex
      .map { case (h, tau) => s"($tau, $h)" }.mkString(", ")
    s"""WITH tl AS (
       |  SELECT CAST(g AS BIGINT) AS t, CAST(g AS BIGINT) * 3600.0 AS sec
       |  FROM generate_series(0, 167) AS gs(g)
       |), tr AS (
       |  SELECT (epoch_us(ts) - 1704067200000000) / 1000000.0 AS onset,
       |         value AS duration, event_type AS trial_type
       |  FROM events
       |), box AS (
       |  SELECT t,
       |    MAX(CASE WHEN onset <= sec AND sec < onset + duration AND trial_type = 'click'    THEN 1 ELSE 0 END) AS click,
       |    MAX(CASE WHEN onset <= sec AND sec < onset + duration AND trial_type = 'purchase' THEN 1 ELSE 0 END) AS purchase
       |  FROM tl CROSS JOIN tr GROUP BY t
       |), kern(tau, h) AS (VALUES $kern)
       |SELECT b.t + k.tau AS t,
       |  CAST(SUM(k.h * b.click) AS DOUBLE) / 1000000.0 AS conv_click,
       |  CAST(SUM(k.h * b.purchase) AS DOUBLE) / 1000000.0 AS conv_purchase
       |FROM box b JOIN kern k ON b.t + k.tau < 168
       |GROUP BY b.t + k.tau
       |ORDER BY t""".stripMargin
  }

  // ---- q36: binarize + label-preserving mask -----------------------------

  def voxelMask(s: SparkSession, d: String): DataFrame =
    ImageOps
      .labelMask(ImageOps.voxelGrid(lineitem(s, d), L), ImageOps.AsegCodes)
      .select(col("x"), col("y"), col("z"), col("label"),
        col("masked_label").cast("int").as("masked_label"),
        col("mask").cast("int").as("mask"),
        col("value_dec").cast("double").as("value"))
      .orderBy("x", "y", "z")

  private val voxelMaskSql =
    s"""WITH $duckGrid
       |SELECT x, y, z, label,
       |  CAST(CASE WHEN label IN ($asegList) THEN label ELSE 0 END AS INTEGER) AS masked_label,
       |  CAST(CASE WHEN label IN ($asegList) THEN 1 ELSE 0 END AS INTEGER) AS mask,
       |  CAST(value_dec AS DOUBLE) AS value
       |FROM grid
       |ORDER BY x, y, z""".stripMargin

  // ---- q37: 19-tap stencil mode (hmode) ----------------------------------

  def stencilMode(s: SparkSession, d: String): DataFrame =
    ImageOps
      .stencilMode(s, ImageOps.voxelGrid(lineitem(s, d), L))
      .orderBy("x", "y", "z")

  private val stencilModeSql = {
    val offs = ImageOps.Offsets19
      .map { case (dx, dy, dz) => s"($dx, $dy, $dz)" }.mkString(", ")
    s"""WITH $duckGrid,
       |offs(dx, dy, dz) AS (VALUES $offs),
       |votes AS (
       |  SELECT g.x + o.dx AS cx, g.y + o.dy AS cy, g.z + o.dz AS cz, g.label
       |  FROM grid g CROSS JOIN offs o
       |  WHERE EXISTS (SELECT 1 FROM grid t
       |                WHERE t.x = g.x + o.dx AND t.y = g.y + o.dy AND t.z = g.z + o.dz)
       |),
       |counted AS (
       |  SELECT cx, cy, cz, label, COUNT(*) AS cnt
       |  FROM votes GROUP BY cx, cy, cz, label
       |),
       |ranked AS (
       |  SELECT cx, cy, cz, label,
       |    ROW_NUMBER() OVER (PARTITION BY cx, cy, cz ORDER BY cnt DESC, label ASC) AS rn
       |  FROM counted
       |)
       |SELECT CAST(cx AS INTEGER) AS x, CAST(cy AS INTEGER) AS y, CAST(cz AS INTEGER) AS z,
       |       label AS clean_label
       |FROM ranked WHERE rn = 1
       |ORDER BY x, y, z""".stripMargin
  }

  // ---- q51: block+halo partition-local stencil (same oracle as q37) -----

  def stencilBlock(s: SparkSession, d: String): DataFrame =
    ImageOps
      .blockLocalStencilMode(s, ImageOps.voxelGrid(lineitem(s, d), L), blockSize = 4)
      .orderBy("x", "y", "z")

  // ---- q38: binomial (discretized Gaussian) smoothing --------------------

  def smooth(s: SparkSession, d: String): DataFrame =
    ImageOps
      .binomialSmooth(s, ImageOps.voxelGrid(lineitem(s, d), L))
      .orderBy("x", "y", "z")

  /** Shared weighted-neighborhood-mean oracle (the SQL twin of
    * ImageOps.weightedNeighborMean): only the kernel VALUES literal
    * varies between q38 and q61. */
  private def weightedSmoothSql(offs: Seq[(Int, Int, Int, Long)]): String = {
    val vals = offs.map { case (dx, dy, dz, w) => s"($dx, $dy, $dz, $w)" }.mkString(", ")
    s"""WITH $duckGrid,
       |offs(dx, dy, dz, w) AS (VALUES $vals),
       |taps AS (
       |  SELECT g.x + o.dx AS cx, g.y + o.dy AS cy, g.z + o.dz AS cz,
       |         o.w AS w, g.value_dec
       |  FROM grid g CROSS JOIN offs o
       |  WHERE EXISTS (SELECT 1 FROM grid t
       |                WHERE t.x = g.x + o.dx AND t.y = g.y + o.dy AND t.z = g.z + o.dz)
       |)
       |SELECT CAST(cx AS INTEGER) AS x, CAST(cy AS INTEGER) AS y, CAST(cz AS INTEGER) AS z,
       |  CAST(SUM(w * value_dec) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS smoothed
       |FROM taps GROUP BY cx, cy, cz
       |ORDER BY x, y, z""".stripMargin
  }

  private val smoothSql = weightedSmoothSql(
    for { dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1 } yield {
      def b(v: Int) = if (v == 0) 2L else 1L
      (dx, dy, dz, b(dx) * b(dy) * b(dz))
    })

  // ---- q61: Gaussian smoothing at the reference's fwhm=4 -----------------
  // (ssm_loop.py:88): truncated integer kernel, σ = 4/2.3548 voxels,
  // radius ⌈2σ⌉ = 4 → 9³ −zero-weight taps. The kernel integers are the
  // SAME literals in both engines, so the renormalized means hash-match.

  def smoothFwhm(s: SparkSession, d: String): DataFrame =
    ImageOps
      .gaussianSmooth(s, ImageOps.voxelGrid(lineitem(s, d), L), 4.0)
      .orderBy("x", "y", "z")

  private def smoothFwhmSql: String =
    weightedSmoothSql(ImageOps.gaussianKernelInts(4.0))

  // ---- q71: block+halo Gaussian smoothing (same oracle as q61) -----------
  // The q51-style scale twin for the smoothing family: the fwhm=4 kernel
  // (radius 4) gathered partition-locally after ONE blockId exchange,
  // bit-identical to the declarative tap-scatter form by construction
  // (exact decimal gather, same final double division).

  def smoothBlock(s: SparkSession, d: String): DataFrame =
    ImageOps
      .blockLocalWeightedMean(s, ImageOps.voxelGrid(lineitem(s, d), L),
        ImageOps.gaussianKernelInts(4.0), blockSize = 8)
      .orderBy("x", "y", "z")

  // ---- q73: block+halo binomial smoothing (same oracle as q38) -----------
  // Completes the smoothing family's scale story: BOTH kernels now have a
  // block+halo twin. Radius 1 at blockSize 8 → halo factor (10/8)³ ≈ 1.95×
  // through the single blockId exchange, vs 27 scatter taps keyed by cell.

  def smoothBinomBlock(s: SparkSession, d: String): DataFrame =
    ImageOps
      .blockLocalWeightedMean(s, ImageOps.voxelGrid(lineitem(s, d), L),
        ImageOps.binomialKernelInts, blockSize = 8)
      .orderBy("x", "y", "z")

  // ---- q39: per-slice reductions over the mask semi-join -----------------

  def sliceMeans(s: SparkSession, d: String): DataFrame =
    ImageOps
      .sliceMeans(ImageOps.voxelGrid(lineitem(s, d), L), ImageOps.AsegCodes)
      .orderBy("z")

  private val sliceMeansSql =
    s"""WITH $duckGrid
       |SELECT z, COUNT(*) AS n,
       |  CAST(SUM(value_dec) AS DOUBLE) / COUNT(*) AS mean_value
       |FROM grid WHERE label IN ($asegList)
       |GROUP BY z
       |ORDER BY z""".stripMargin

  // ---- q40: nearest-neighbor half-resolution resample --------------------

  def resample(s: SparkSession, d: String): DataFrame =
    ImageOps
      .resampleHalf(ImageOps.voxelGrid(lineitem(s, d), L))
      .select(col("x"), col("y"), col("z"), col("label"),
        col("value_dec").cast("double").as("value"))
      .orderBy("x", "y", "z")

  private val resampleSql =
    s"""WITH $duckGrid
       |SELECT CAST(x / 2 AS INTEGER) AS x, CAST(y / 2 AS INTEGER) AS y,
       |       CAST(z / 2 AS INTEGER) AS z, label,
       |       CAST(value_dec AS DOUBLE) AS value
       |FROM grid
       |WHERE x % 2 = 0 AND y % 2 = 0 AND z % 2 = 0
       |ORDER BY x, y, z""".stripMargin

  // ---- q63: general-affine NN resample (I5 complete) ---------------------
  // Downscale by 4/3 with a 0.3-voxel shift: A = diag(0.75), b = 0.3.
  // 0.75·k + 0.3 can never land on an exact .5 midpoint for integer k
  // (3k ≡ 0.8 (mod 4) has no integer solution), so NN rounding is
  // tie-free and the oracle matches exactly.

  def resampleAffine(s: SparkSession, d: String): DataFrame =
    ImageOps
      .resampleAffineNN(s, ImageOps.voxelGrid(lineitem(s, d), L),
        Array(Array(0.75, 0.0, 0.0), Array(0.0, 0.75, 0.0), Array(0.0, 0.0, 0.75)),
        Array(0.3, 0.3, 0.3), (L, L, L))
      .select(col("x"), col("y"), col("z"), col("label"),
        col("value_dec").cast("double").as("value"))
      .orderBy("x", "y", "z")

  private val resampleAffineSql =
    s"""WITH $duckGrid,
       |o AS (
       |  SELECT CAST(g // ${L * L} AS INTEGER) AS x,
       |         CAST((g // $L) % $L AS INTEGER) AS y,
       |         CAST(g % $L AS INTEGER) AS z
       |  FROM generate_series(0, ${L * L * L - 1}) AS gs(g)
       |), m AS (
       |  SELECT x, y, z,
       |    CAST(round(0.75 * x + 0.3) AS INTEGER) AS sx,
       |    CAST(round(0.75 * y + 0.3) AS INTEGER) AS sy,
       |    CAST(round(0.75 * z + 0.3) AS INTEGER) AS sz
       |  FROM o
       |)
       |SELECT m.x, m.y, m.z, g.label, CAST(g.value_dec AS DOUBLE) AS value
       |FROM m JOIN grid g ON g.x = m.sx AND g.y = m.sy AND g.z = m.sz
       |ORDER BY m.x, m.y, m.z""".stripMargin

  // ---- q132: trilinear affine resample (I5 interpolating form) -----------
  // Upsample 2x with a quarter-voxel offset: s = (2*o + 1) / 4 per axis, so
  // the fractional numerator is (2o+1) mod 4 ∈ {1, 3} — never 0: every
  // corner weight is a nonzero exact quarter-product (1/64 granularity) and
  // the interior-only count(*)=8 policy is exercised at the box faces. The
  // oracle replays the identical integer arithmetic (floor cell via //,
  // weight numerators over 4, value_dec·100 int64 sums).

  def resampleTrilinear(s: SparkSession, d: String): DataFrame =
    ImageOps
      .resampleAffineTrilinear(s, ImageOps.voxelGrid(lineitem(s, d), L),
        Array(Array(2L, 0L, 0L), Array(0L, 2L, 0L), Array(0L, 0L, 2L)),
        Array(1L, 1L, 1L), den = 4L, (2 * L, 2 * L, 2 * L))
      .orderBy("x", "y", "z")

  private val resampleTrilinearSql = {
    val n = 2 * L
    s"""WITH $duckGrid,
       |o AS (
       |  SELECT CAST(g // ${n * n} AS INTEGER) AS x,
       |         CAST((g // $n) % $n AS INTEGER) AS y,
       |         CAST(g % $n AS INTEGER) AS z
       |  FROM generate_series(0, ${n * n * n - 1}) AS gs(g)
       |), sn AS (
       |  SELECT x, y, z,
       |    CAST(2 * x + 1 AS BIGINT) AS sn0,
       |    CAST(2 * y + 1 AS BIGINT) AS sn1,
       |    CAST(2 * z + 1 AS BIGINT) AS sn2
       |  FROM o
       |), cell AS (
       |  SELECT x, y, z,
       |    CAST(sn0 // 4 AS INTEGER) AS s0x, CAST(sn1 // 4 AS INTEGER) AS s0y,
       |    CAST(sn2 // 4 AS INTEGER) AS s0z,
       |    sn0 % 4 AS fx, sn1 % 4 AS fy, sn2 % 4 AS fz
       |  FROM sn
       |), corner AS (
       |  SELECT c.x, c.y, c.z,
       |    c.s0x + CAST(k // 4 AS INTEGER) AS sx,
       |    c.s0y + CAST((k // 2) % 2 AS INTEGER) AS sy,
       |    c.s0z + CAST(k % 2 AS INTEGER) AS sz,
       |    (CASE WHEN k // 4 = 0 THEN 4 - c.fx ELSE c.fx END) *
       |    (CASE WHEN (k // 2) % 2 = 0 THEN 4 - c.fy ELSE c.fy END) *
       |    (CASE WHEN k % 2 = 0 THEN 4 - c.fz ELSE c.fz END) AS wn
       |  FROM cell c, generate_series(0, 7) AS ks(k)
       |), j AS (
       |  SELECT corner.x, corner.y, corner.z,
       |    sum(wn * CAST(g.value_dec * 100 AS BIGINT)) AS num, count(*) AS nc
       |  FROM corner JOIN grid g ON g.x = corner.sx AND g.y = corner.sy AND g.z = corner.sz
       |  GROUP BY 1, 2, 3
       |)
       |SELECT x, y, z, CAST(num AS DOUBLE) / ${100.0 * 64} AS value
       |FROM j WHERE nc = 8 ORDER BY x, y, z""".stripMargin
  }

  // ---- q134: zero-padded trilinear resample (the ANTs defaultValue form) --
  // Same geometry as q132, boundary policy flipped: missing corners
  // contribute 0 (antsApplyTransforms --default-value 0), so EVERY output
  // cell emits — boundary cells fade toward zero instead of dropping. The
  // oracle LEFT-joins the grid and coalesces.

  def resampleTrilinearPadded(s: SparkSession, d: String): DataFrame =
    ImageOps
      .resampleAffineTrilinear(s, ImageOps.voxelGrid(lineitem(s, d), L),
        Array(Array(2L, 0L, 0L), Array(0L, 2L, 0L), Array(0L, 0L, 2L)),
        Array(1L, 1L, 1L), den = 4L, (2 * L, 2 * L, 2 * L), pad100 = Some(0L))
      .orderBy("x", "y", "z")

  private val resampleTrilinearPaddedSql = {
    val n = 2 * L
    s"""WITH $duckGrid,
       |o AS (
       |  SELECT CAST(g // ${n * n} AS INTEGER) AS x,
       |         CAST((g // $n) % $n AS INTEGER) AS y,
       |         CAST(g % $n AS INTEGER) AS z
       |  FROM generate_series(0, ${n * n * n - 1}) AS gs(g)
       |), sn AS (
       |  SELECT x, y, z,
       |    CAST(2 * x + 1 AS BIGINT) AS sn0,
       |    CAST(2 * y + 1 AS BIGINT) AS sn1,
       |    CAST(2 * z + 1 AS BIGINT) AS sn2
       |  FROM o
       |), cell AS (
       |  SELECT x, y, z,
       |    CAST(sn0 // 4 AS INTEGER) AS s0x, CAST(sn1 // 4 AS INTEGER) AS s0y,
       |    CAST(sn2 // 4 AS INTEGER) AS s0z,
       |    sn0 % 4 AS fx, sn1 % 4 AS fy, sn2 % 4 AS fz
       |  FROM sn
       |), corner AS (
       |  SELECT c.x, c.y, c.z,
       |    c.s0x + CAST(k // 4 AS INTEGER) AS sx,
       |    c.s0y + CAST((k // 2) % 2 AS INTEGER) AS sy,
       |    c.s0z + CAST(k % 2 AS INTEGER) AS sz,
       |    (CASE WHEN k // 4 = 0 THEN 4 - c.fx ELSE c.fx END) *
       |    (CASE WHEN (k // 2) % 2 = 0 THEN 4 - c.fy ELSE c.fy END) *
       |    (CASE WHEN k % 2 = 0 THEN 4 - c.fz ELSE c.fz END) AS wn
       |  FROM cell c, generate_series(0, 7) AS ks(k)
       |), j AS (
       |  SELECT corner.x, corner.y, corner.z,
       |    sum(wn * COALESCE(CAST(g.value_dec * 100 AS BIGINT), 0)) AS num
       |  FROM corner LEFT JOIN grid g ON g.x = corner.sx AND g.y = corner.sy AND g.z = corner.sz
       |  GROUP BY 1, 2, 3
       |)
       |SELECT x, y, z, CAST(num AS DOUBLE) / ${100.0 * 64} AS value
       |FROM j ORDER BY x, y, z""".stripMargin
  }

  // ---- q64: per-TR global signal over the masked 4-D series (A4) ---------
  // nb cell 42: global signal = mean over in-mask voxels at each TR. The
  // mask is the aseg-code mask of the 3-D grid (an atlas: O(volume),
  // broadcast); the series is the O(data) side, streamed once.

  private val NT = 30 // TRs in the synthetic series

  def globalSignal(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val mask = ImageOps
      .labelMask(ImageOps.voxelGrid(li, L), ImageOps.AsegCodes)
      .filter(col("mask") === 1)
    ImageOps
      .globalSignal(ImageOps.voxelSeries(li, L, NT), mask)
      .orderBy("t")
  }

  private val globalSignalSql =
    s"""WITH $duckGrid,
       |series AS (
       |  SELECT CAST((l_orderkey + l_linenumber * 11) % $NT AS INTEGER) AS t,
       |         CAST(l_orderkey % $L AS INTEGER) AS x,
       |         CAST(l_partkey % $L AS INTEGER) AS y,
       |         CAST(l_suppkey % $L AS INTEGER) AS z,
       |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS value_dec
       |  FROM lineitem GROUP BY 1, 2, 3, 4
       |)
       |SELECT t, CAST(COUNT(*) AS BIGINT) AS n_vox,
       |  CAST(SUM(value_dec) AS DOUBLE) / COUNT(*) AS global_signal
       |FROM series s
       |WHERE EXISTS (SELECT 1 FROM grid g
       |              WHERE g.x = s.x AND g.y = s.y AND g.z = s.z
       |                AND g.label IN ($asegList))
       |GROUP BY t
       |ORDER BY t""".stripMargin

  // ---- q72: per-voxel mean image over the 4-D series (A5 proper) ---------
  // nb cells 48-49: data.mean() — the time-mean volume. Dense-array
  // semantics: absent (t,voxel) observations are zeros, divisor = NT.

  def meanImage(s: SparkSession, d: String): DataFrame =
    ImageOps
      .meanImage(ImageOps.voxelSeries(lineitem(s, d), L, NT), NT)
      .orderBy("x", "y", "z")

  private val meanImageSql =
    s"""WITH series AS (
       |  SELECT CAST((l_orderkey + l_linenumber * 11) % $NT AS INTEGER) AS t,
       |         CAST(l_orderkey % $L AS INTEGER) AS x,
       |         CAST(l_partkey % $L AS INTEGER) AS y,
       |         CAST(l_suppkey % $L AS INTEGER) AS z,
       |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS value_dec
       |  FROM lineitem GROUP BY 1, 2, 3, 4
       |)
       |SELECT x, y, z, COUNT(*) AS n_t,
       |  CAST(SUM(value_dec) AS DOUBLE) / $NT AS mean_value
       |FROM series
       |GROUP BY x, y, z
       |ORDER BY x, y, z""".stripMargin

  // ---- q158: seed-based functional connectivity (A7 over the 4-D series) -
  // THE resting-state analysis downstream of the reference's preprocessing
  // (ssm_loop.py stops at the first-level fit; seed-based FC is what the
  // cleaned series feeds): pick a coordinate-defined seed ROI (a 3x3x3 box
  // around a peak coordinate — the atlas-coordinate "sphere" practice;
  // label-based seeds are scale-fragile here because voxelGrid's MIN-label
  // collapses as draws-per-voxel grow), average its time series, and
  // correlate every voxel's series against it, reporting Pearson r and
  // Fisher z = atanh(r).
  //
  // Determinism: the seed series enters as the exact-integer cent SUM over
  // seed voxels (correlation is invariant to the constant 1/|seed|
  // divisor, so the mean's division never happens); all five moments
  // (Σv, Σv², Σs, Σs², Σvs) are exact BIGINT/DECIMAL sums under dense
  // semantics (absent cells are zeros, n = NT), and r/z are one shared
  // double expression over those integers, rounded to 6 decimals.
  //
  // Scale shape: the series relation is VOLUME-bounded (L³·NT rows) but
  // carries the data-sized lineitem scan in its lineage and is consumed
  // twice (seed branch + voxel branch) — pinned once (the q157 lesson).
  // The seed relation is ≤NT rows, broadcast; per-voxel moments are one
  // volume-keyed aggregation. No data-sized shuffle, no window.

  private val seedLo = 4
  private val seedHi = 6

  private val fcNumStr =
    s"($NT * CAST(svs AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(ss AS DOUBLE))"
  private val fcDenVStr =
    s"($NT * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
  private val fcDenSStr =
    s"($NT * CAST(sss AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))"
  private val fcRStr =
    s"CASE WHEN $fcDenVStr > 0 AND $fcDenSStr > 0 " +
      s"THEN $fcNumStr / (sqrt($fcDenVStr) * sqrt($fcDenSStr)) END"
  private val fcZStr =
    "CASE WHEN r > -1.0 AND r < 1.0 THEN 0.5 * ln((1.0 + r) / (1.0 - r)) END"

  def seedConnectivity(s: SparkSession, d: String): DataFrame =
    seedConnectivityCore(centsSeries(s, d))

  /** The q158 body from a (t, x, y, z, v-cents) series — split out so
    * specs can feed planted series. */
  private[graft] def seedConnectivityCore(series0: DataFrame): DataFrame = {
    val series = series0.localCheckpoint()
    val inSeed = (c: String) =>
      col(c) >= seedLo && col(c) <= seedHi
    val seed = series
      .filter(inSeed("x") && inSeed("y") && inSeed("z"))
      .groupBy("t").agg(sum("v").as("s_t"))
    val seedMom = seed.agg(
      sum("s_t").as("ss"),
      sum(expr("CAST(s_t AS DECIMAL(38,0)) * s_t")).as("sss"))
    series
      .join(broadcast(seed), Seq("t"), "left")
      .na.fill(0L, Seq("s_t"))
      .groupBy("x", "y", "z")
      .agg(count(lit(1)).as("n_t"),
        sum("v").as("sv"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * s_t")).as("svs"))
      .crossJoin(broadcast(seedMom))
      .selectExpr("x", "y", "z", "n_t", s"$fcRStr AS r")
      .selectExpr("x", "y", "z", "CAST(n_t AS BIGINT) AS n_t",
        "round(r, 6) AS r_seed", s"round($fcZStr, 6) AS z_fisher")
      .orderBy("x", "y", "z")
  }

  /** The (t, x, y, z, v) voxel series in integer cents — the engine twin
    * of [[centsSeriesCte]]. */
  private def centsSeries(s: SparkSession, d: String): DataFrame =
    ImageOps.voxelSeries(lineitem(s, d), L, NT)
      .select(col("t"), col("x"), col("y"), col("z"),
        expr("CAST(value_dec * 100 AS BIGINT)").as("v"))

  /** Shared oracle prefix: the cents voxel series — reused by q158/q166
    * (via [[seedSeriesCtes]]) and q167 (oracle-sharing discipline). */
  private def centsSeriesCte: String =
    s"""series AS (
       |  SELECT CAST((l_orderkey + l_linenumber * 11) % $NT AS INTEGER) AS t,
       |         CAST(l_orderkey % $L AS INTEGER) AS x,
       |         CAST(l_partkey % $L AS INTEGER) AS y,
       |         CAST(l_suppkey % $L AS INTEGER) AS z,
       |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** The q158 head (cents series + seed-box per-TR sums), reused verbatim
    * by the q166 PPI design. */
  private def seedSeriesCtes: String =
    s"""$centsSeriesCte,
       |seed AS (
       |  SELECT t, SUM(v) AS s_t FROM series
       |  WHERE x BETWEEN $seedLo AND $seedHi AND y BETWEEN $seedLo AND $seedHi
       |    AND z BETWEEN $seedLo AND $seedHi
       |  GROUP BY t
       |)""".stripMargin

  /** The q158 moment CTEs (seed moments + per-voxel moments), shared with
    * the q169 panel; the r-projection CTE is emitted by the caller under
    * its own name. */
  private def seedFcMomentCtes: String =
    s"""sm AS (
       |  SELECT SUM(s_t) AS ss, SUM(CAST(s_t AS HUGEINT) * s_t) AS sss FROM seed
       |),
       |pv AS (
       |  SELECT s.x, s.y, s.z, COUNT(*) AS n_t, SUM(v) AS sv,
       |    SUM(CAST(v AS HUGEINT) * v) AS svv,
       |    SUM(CAST(v AS HUGEINT) * COALESCE(seed.s_t, 0)) AS svs
       |  FROM series s LEFT JOIN seed ON seed.t = s.t
       |  GROUP BY 1, 2, 3
       |)""".stripMargin

  private val seedConnectivitySql =
    s"""WITH $seedSeriesCtes,
       |$seedFcMomentCtes,
       |rr AS (
       |  SELECT x, y, z, n_t, $fcRStr AS r FROM pv CROSS JOIN sm
       |)
       |SELECT x, y, z, CAST(n_t AS BIGINT) AS n_t,
       |  round(r, 6) AS r_seed, round($fcZStr, 6) AS z_fisher
       |FROM rr
       |ORDER BY x, y, z""".stripMargin

  // ---- q166: PPI — psychophysiological interaction GLM -------------------
  // (Friston et al. 1997; the per-voxel moderation practice): does task
  // context CHANGE a voxel's coupling with the seed? Per voxel, fit
  //   y(t) ~ β0 + β1·task(t) + β2·seed(t) + β3·task(t)·seed(t)
  // where task is the block boxcar (t % 10 < 5) and seed is the q158
  // seed-box series quantized to $10 units; β3 is the PPI effect. The
  // design is DATA-DERIVED (the seed regressor is an aggregate of the
  // very volume being fit), so the literal-pinv shortcut is out.
  //
  // Determinism (the r15 lesson): the first cut solved the 4×4 normal
  // equations by a 4-stage double Gauss–Jordan (Glm.gjStages). That is
  // bit-stable within ONE engine build, but the oracle engine's
  // HUGEINT→DOUBLE cast / division ULP behavior varies by version, and a
  // last-ulp divergence entering a 4-stage chain can land outputs on a
  // round(x,6) boundary — rows/schema matched, hash didn't, in an oracle
  // engine version we don't control. This rewrite generalizes q160's
  // closed-cofactor road to k=4 and goes one step further: EVERYTHING is
  // exact integer arithmetic. The seed regressor is an integer half-up
  // quantization ((s_t + 500) div 1000), all ten XᵀX moments and four
  // Xᵀy moments are exact DECIMAL(38,0)/HUGEINT sums, det(XᵀX) and the
  // ten distinct adj(XᵀX) cofactors are generated cofactor-expansion
  // strings over those integers, and each beta is fixed-pointed by ONE
  // exact integer division (half-away: (2·|num|·1e6 + det) div (2·det)).
  // The only floating op in the whole query is CAST(bfp AS DOUBLE)/1e6
  // on a < 2^53 integer — exact in every IEEE-754 engine, any version.
  // Magnitudes (probed at sf0.1: s_q ≤ 407, v ≤ 5.3e4, NT=30): moments
  // ≤ 5e6, det ≤ 24·m⁴ ≈ 1.4e28, num·2e6 ≤ 4e36 < 10^38 — inside
  // DECIMAL(38,0)/HUGEINT with worst-case bounds.
  //
  // Betas are reported in natural units (cents for β0/β1; cents per
  // $10-of-seed for β2/β3), 6-dp fixed point.
  //
  // Scale shape: ONE data-sized exchange (the voxel-series aggregate,
  // pinned once for its two consumers); the seed and design relations
  // are NT-row broadcasts; XᵀX/adj is a 1-row cross join; the per-voxel
  // work is 4 integer dot products + 4 integer divisions. No window, no
  // driver linear algebra.

  private val ppiK = 4
  private val ppiSeedQuantum = 1000L // seed regressor unit: $10 = 1000 cents

  def ppiGlm(s: SparkSession, d: String): DataFrame =
    ppiGlmCore(s, centsSeries(s, d))

  /** The q166 body from a (t, x, y, z, v-cents) series — split out so
    * specs can plant seed/probe series with known coefficients. */
  private[graft] def ppiGlmCore(s: SparkSession, series0: DataFrame): DataFrame = {
    val k = ppiK
    val q2 = ppiSeedQuantum / 2
    val series = series0.localCheckpoint()
    val inSeed = (c: String) => col(c) >= seedLo && col(c) <= seedHi
    val seed = series
      .filter(inSeed("x") && inSeed("y") && inSeed("z"))
      .groupBy("t").agg(sum("v").as("s_t"))
    val xf = s.range(NT).select(col("id").as("t"))
      .join(seed, Seq("t"), "left").na.fill(0L, Seq("s_t"))
      .selectExpr("t", "CAST(1 AS BIGINT) AS x0",
        "CAST(CASE WHEN t % 10 < 5 THEN 1 ELSE 0 END AS BIGINT) AS x1",
        s"CAST((s_t + $q2) DIV $ppiSeedQuantum AS BIGINT) AS x2",
        s"CAST(CASE WHEN t % 10 < 5 THEN (s_t + $q2) DIV $ppiSeedQuantum ELSE 0 END AS BIGINT) AS x3")
      .localCheckpoint() // NT rows; carries the seed aggregate, 2 consumers
    val xtxAggs = for (i <- 0 until k; j <- i until k) yield
      expr(s"SUM(CAST(x$i AS DECIMAL(38,0)) * x$j)").as(s"sxx_${i}_$j")
    val adjRow = xf.agg(xtxAggs.head, xtxAggs.tail: _*)
      .selectExpr(ppiAdjExprs: _*)
    val sxyAggs = (0 until k).map(i =>
      expr(s"SUM(CAST(x$i AS DECIMAL(38,0)) * v)").as(s"sxy_$i"))
    val xty = series.join(broadcast(xf), Seq("t"))
      .groupBy("x", "y", "z").agg(sxyAggs.head, sxyAggs.tail: _*)
    xty.crossJoin(broadcast(adjRow))
      .selectExpr(Seq("x", "y", "z", "det") ++ ppiNumExprs: _*)
      .selectExpr(Seq("x", "y", "z") ++ ppiBetaFpExprs("DIV"): _*)
      .selectExpr(Seq("x", "y", "z") ++
        (0 until k).map(i => s"CAST(bfp_$i AS DOUBLE) / 1e6 AS beta_$i"): _*)
      .orderBy("x", "y", "z")
  }

  /** Cofactor-expansion string (along the first listed row) for the
    * determinant of the rows×cols sub-matrix of the symmetric moment
    * matrix; `m(i,j)` names the (order-free) moment column. Products of
    * ≤ 4 exact integer moments — pure integer SQL, shared by engines. */
  private def ppiDetStr(rows: Seq[Int], cols: Seq[Int], m: (Int, Int) => String): String =
    if (rows.size == 1) m(rows.head, cols.head)
    else cols.indices.map { p =>
      val sub = ppiDetStr(rows.tail, cols.patch(p, Nil, 1), m)
      val term = s"${m(rows.head, cols(p))} * ($sub)"
      if (p == 0) term else if (p % 2 == 0) s"+ $term" else s"- $term"
    }.mkString(" ")

  /** det(XᵀX) and the 10 distinct adjugate entries (symmetric ⇒
    * adj_ij = adj_ji), each an exact-integer cofactor expansion. */
  private def ppiAdjExprs: Seq[String] = {
    val k = ppiK
    val m = (i: Int, j: Int) => s"sxx_${i min j}_${i max j}"
    val all = (0 until k).toList
    val adj = for (i <- all; j <- i until k) yield {
      val d = ppiDetStr(all.filterNot(_ == j), all.filterNot(_ == i), m)
      val signed = if ((i + j) % 2 == 0) s"($d)" else s"-($d)"
      s"$signed AS adj_${i}_$j"
    }
    adj :+ s"(${ppiDetStr(all, all, m)}) AS det"
  }

  /** num_i = (adj(XᵀX)·Xᵀy)_i — exact integer dot products. */
  private def ppiNumExprs: Seq[String] =
    (0 until ppiK).map { i =>
      val terms = (0 until ppiK).map(j => s"adj_${i min j}_${i max j} * sxy_$j")
      s"(${terms.mkString(" + ")}) AS num_$i"
    }

  /** β_i at 6-dp fixed point via ONE exact integer division with
    * half-away-from-zero rounding; `divTok` is the engine's integral
    * division token (Spark `DIV`, DuckDB `//` — floor-division agrees
    * on the non-negative operands used here). */
  private def ppiBetaFpExprs(divTok: String): Seq[String] =
    (0 until ppiK).map { i =>
      val pos = s"(2 * num_$i * 1000000 + det) $divTok (2 * det)"
      val neg = s"(2 * (-num_$i) * 1000000 + det) $divTok (2 * det)"
      s"CASE WHEN det > 0 THEN CAST(CASE WHEN num_$i < 0 THEN -($neg) ELSE $pos END AS BIGINT) END AS bfp_$i"
    }

  private def ppiGlmSql: String = {
    val k = ppiK
    val qu = ppiSeedQuantum
    val q2 = qu / 2
    val xtxSums = (for (i <- 0 until k; j <- i until k) yield
      s"SUM(CAST(x$i AS HUGEINT) * x$j) AS sxx_${i}_$j").mkString(",\n|    ")
    val xtySums = (0 until k)
      .map(i => s"SUM(CAST(x$i AS HUGEINT) * v) AS sxy_$i").mkString(",\n|    ")
    s"""WITH $seedSeriesCtes,
       |xf AS (
       |  SELECT ts.t, CAST(1 AS BIGINT) AS x0,
       |    CAST(CASE WHEN ts.t % 10 < 5 THEN 1 ELSE 0 END AS BIGINT) AS x1,
       |    CAST((COALESCE(seed.s_t, 0) + $q2) // $qu AS BIGINT) AS x2,
       |    CAST(CASE WHEN ts.t % 10 < 5 THEN (COALESCE(seed.s_t, 0) + $q2) // $qu ELSE 0 END AS BIGINT) AS x3
       |  FROM generate_series(0, ${NT - 1}) AS ts(t)
       |  LEFT JOIN seed ON seed.t = ts.t
       |),
       |xtx AS (
       |  SELECT
       |    $xtxSums
       |  FROM xf
       |),
       |adj AS (
       |  SELECT
       |    ${ppiAdjExprs.mkString(",\n|    ")}
       |  FROM xtx
       |),
       |xty AS (
       |  SELECT s.x, s.y, s.z,
       |    $xtySums
       |  FROM series s JOIN xf ON xf.t = s.t
       |  GROUP BY 1, 2, 3
       |),
       |nums AS (
       |  SELECT x, y, z, det,
       |    ${ppiNumExprs.mkString(",\n|    ")}
       |  FROM xty CROSS JOIN adj
       |),
       |bfp AS (
       |  SELECT x, y, z,
       |    ${ppiBetaFpExprs("//").mkString(",\n|    ")}
       |  FROM nums
       |)
       |SELECT x, y, z, ${(0 until k)
      .map(i => s"CAST(bfp_$i AS DOUBLE) / 1e6 AS beta_$i").mkString(", ")}
       |FROM bfp
       |ORDER BY x, y, z""".stripMargin
  }

  // ---- q167: VMHC — voxel-mirrored homotopic connectivity ----------------
  // (Zuo et al. 2010): per voxel, the Pearson correlation between its
  // time series and its x-mirror's ((L−1−x, y, z)) — the interhemispheric
  // symmetry map, the fourth classic resting-state statistic next to
  // ALFF (q146), seed FC (q158), and ReHo (q163). r is symmetric in the
  // pair, so the output is ONE row per mirror pair, keyed by the low-x
  // member.
  //
  // No self-join: each series row maps to its PAIR key (LEAST(x, L−1−x),
  // y, z, t) with the value routed to a left/right slot; the cross moment
  // Σvl·vr then falls out of one more volume-bounded aggregation — two
  // bounded exchanges replace a time-keyed self-join of the series. All
  // five moments are exact BIGINT/DECIMAL sums under dense semantics
  // (absent cells are zeros, n = NT; an all-absent side has zero variance
  // → NULL r, the q158 rule), and r/z are one shared double expression.
  //
  // Scale shape: ONE data-sized exchange (the voxel series), then
  // volume-bounded pair-fold aggregations. No window, no join at all.

  private val vmhcNumStr =
    s"($NT * CAST(svm AS DOUBLE) - CAST(svl AS DOUBLE) * CAST(svr AS DOUBLE))"
  private val vmhcDenLStr =
    s"($NT * CAST(svvl AS DOUBLE) - CAST(svl AS DOUBLE) * CAST(svl AS DOUBLE))"
  private val vmhcDenRStr =
    s"($NT * CAST(svvr AS DOUBLE) - CAST(svr AS DOUBLE) * CAST(svr AS DOUBLE))"
  private val vmhcRStr =
    s"CASE WHEN $vmhcDenLStr > 0 AND $vmhcDenRStr > 0 " +
      s"THEN $vmhcNumStr / (sqrt($vmhcDenLStr) * sqrt($vmhcDenRStr)) END"

  def vmhc(s: SparkSession, d: String): DataFrame =
    vmhcCore(centsSeries(s, d))

  /** The q167 body from a (t, x, y, z, v-cents) series — split out so
    * specs can plant mirror pairs. */
  private[graft] def vmhcCore(series: DataFrame): DataFrame = {
    val half = L / 2
    val keyed = series.selectExpr(
      s"LEAST(x, ${L - 1} - x) AS xp", "y", "z", "t",
      s"CASE WHEN x < $half THEN v ELSE CAST(0 AS BIGINT) END AS a",
      s"CASE WHEN x >= $half THEN v ELSE CAST(0 AS BIGINT) END AS b")
    keyed.groupBy("xp", "y", "z", "t")
      .agg(sum("a").as("vl"), sum("b").as("vr"))
      .groupBy("xp", "y", "z")
      .agg(sum("vl").as("svl"),
        sum(expr("CAST(vl AS DECIMAL(38,0)) * vl")).as("svvl"),
        sum("vr").as("svr"),
        sum(expr("CAST(vr AS DECIMAL(38,0)) * vr")).as("svvr"),
        sum(expr("CAST(vl AS DECIMAL(38,0)) * vr")).as("svm"))
      .selectExpr("xp AS x", "y", "z", s"$vmhcRStr AS r")
      .selectExpr("x", "y", "z", "round(r, 6) AS r_vmhc",
        s"round($fcZStr, 6) AS z_fisher")
      .orderBy("x", "y", "z")
  }

  /** The q167 pair-fold CTEs (pairs + moments), shared with the q169
    * panel; the r-projection CTE is emitted by the caller under its own
    * name. */
  private def vmhcBodyCtes: String = {
    val half = L / 2
    s"""pairs AS (
       |  SELECT LEAST(x, ${L - 1} - x) AS xp, y, z, t,
       |    SUM(CASE WHEN x < $half THEN v ELSE CAST(0 AS BIGINT) END) AS vl,
       |    SUM(CASE WHEN x >= $half THEN v ELSE CAST(0 AS BIGINT) END) AS vr
       |  FROM series GROUP BY 1, 2, 3, 4
       |),
       |mom AS (
       |  SELECT xp, y, z,
       |    SUM(vl) AS svl, SUM(CAST(vl AS HUGEINT) * vl) AS svvl,
       |    SUM(vr) AS svr, SUM(CAST(vr AS HUGEINT) * vr) AS svvr,
       |    SUM(CAST(vl AS HUGEINT) * vr) AS svm
       |  FROM pairs GROUP BY 1, 2, 3
       |)""".stripMargin
  }

  private def vmhcSql: String =
    s"""WITH $centsSeriesCte,
       |$vmhcBodyCtes,
       |rr AS (
       |  SELECT xp AS x, y, z, $vmhcRStr AS r FROM mom
       |)
       |SELECT x, y, z, round(r, 6) AS r_vmhc, round($fcZStr, 6) AS z_fisher
       |FROM rr
       |ORDER BY x, y, z""".stripMargin

  // ---- q168: parcellated connectome + degree centrality ------------------
  // The ROI-level functional connectome (the atlas practice — Power/
  // Schaefer-style parcels; here a deterministic coordinate-hash atlas
  // p = (7x+11y+13z) mod NP, scale-stable where the voxelGrid MIN-label
  // is not): parcel series are exact cent SUMS (correlation ignores the
  // 1/|parcel| divisor), the NP×NP upper triangle correlates via exact
  // integer moments, and a graph layer thresholds |r| ≥ 0.1 into edges
  // and per-parcel degree centrality — the first graph-theoretic summary
  // (Rubinov & Sporns 2010) on top of the q146/q158/q163/q167 maps.
  //
  // Determinism: moments are exact BIGINT/DECIMAL sums under dense
  // semantics (n = NT); r is the shared expression, ROUNDED to 6 dp
  // BEFORE thresholding so an engine's last-ulp can't flip an edge.
  //
  // Scale shape: ONE data-sized exchange (the parcel-series aggregate,
  // combining map-side to NP·NT rows, pinned for its two join sides);
  // the t-keyed self-join, moments, threshold, and degree fold are all
  // parcel-bounded. At atlas scale (NP ≈ 10²-10³) the pair relation is
  // NP²/2 rows — still broadcast-class.

  private val connNP = 12
  private val connNumStr =
    s"($NT * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
  private val connDenAStr =
    s"($NT * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
  private val connDenBStr =
    s"($NT * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))"
  private val connRStr =
    s"CASE WHEN $connDenAStr > 0 AND $connDenBStr > 0 " +
      s"THEN $connNumStr / (sqrt($connDenAStr) * sqrt($connDenBStr)) END"
  private val connEdgeStr =
    "CASE WHEN r_par IS NOT NULL AND abs(r_par) >= CAST(0.1 AS DOUBLE) " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"

  def connectome(s: SparkSession, d: String): DataFrame =
    connectomeCore(centsSeries(s, d))

  /** The q168 body from a (t, x, y, z, v-cents) series — split out so
    * specs can plant parcel series. */
  private[graft] def connectomeCore(series: DataFrame): DataFrame =
    connectomeDegrees(connectomePairs(series), Nil)

  /** q168's checkpointed (p1, p2, r_par, edge) pair relation without the
    * degree columns — for the kernels that pin it and never read them. */
  private[graft] def connectomePairs(series: DataFrame): DataFrame = {
    val par = series
      .selectExpr(s"CAST((x * 7 + y * 11 + z * 13) % $connNP AS INT) AS p",
        "t", "v")
      .groupBy("p", "t").agg(sum("v").as("pv"))
      .localCheckpoint()
    val a = par.selectExpr("p AS p1", "t", "pv AS pva")
    val b = par.selectExpr("p AS p2", "t", "pv AS pvb")
    val mom = a.join(b, Seq("t")).filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(sum(expr("CAST(pva AS DECIMAL(38,0)) * pvb")).as("sab"),
        sum("pva").as("sa"), sum("pvb").as("sb"),
        sum(expr("CAST(pva AS DECIMAL(38,0)) * pva")).as("saa"),
        sum(expr("CAST(pvb AS DECIMAL(38,0)) * pvb")).as("sbb"))
    connectomeThreshold(mom, connRStr, Nil)
  }

  /** The shared moments → r → edges → degrees tail of q168/q178, in two
    * steps: threshold the rounded r (checkpointed), then fold per-parcel
    * degree and join it back. `extraCols` are already-named mom columns
    * carried to the output (q178's n_kept). All relations NP²-bounded. */
  private def connectomeThreshold(mom: DataFrame, rStr: String,
      extraCols: Seq[String]): DataFrame = {
    val keep = Seq("p1", "p2") ++ extraCols
    mom.selectExpr(keep :+ s"round($rStr, 6) AS r_par": _*)
      .selectExpr(keep ++ Seq("r_par", s"$connEdgeStr AS edge"): _*)
      .localCheckpoint() // NP²-bounded; output + two degree reads
  }

  private def connectomeDegrees(pairs: DataFrame,
      extraCols: Seq[String]): DataFrame = {
    val keep = Seq("p1", "p2") ++ extraCols
    val ones = pairs.filter(col("edge") === 1)
    val deg = ones.selectExpr("p1 AS p").union(ones.selectExpr("p2 AS p"))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    pairs
      .join(broadcast(deg.selectExpr("p AS p1", "deg AS deg_p1")), Seq("p1"), "left")
      .join(broadcast(deg.selectExpr("p AS p2", "deg AS deg_p2")), Seq("p2"), "left")
      .na.fill(0L, Seq("deg_p1", "deg_p2"))
      .selectExpr(keep ++ Seq("r_par", "edge", "deg_p1", "deg_p2"): _*)
      .orderBy("p1", "p2")
  }

  /** The q168 chain through the thresholded edge relation (pe) — shared
    * with the q173 graph metrics. */
  private def connectomeCtes: String =
    s"""$centsSeriesCte,
       |par AS (
       |  SELECT CAST((x * 7 + y * 11 + z * 13) % $connNP AS INTEGER) AS p,
       |    t, SUM(v) AS pv
       |  FROM series GROUP BY 1, 2
       |),
       |mom AS (
       |  SELECT a.p AS p1, b.p AS p2,
       |    SUM(CAST(a.pv AS HUGEINT) * b.pv) AS sab,
       |    SUM(a.pv) AS sa, SUM(b.pv) AS sb,
       |    SUM(CAST(a.pv AS HUGEINT) * a.pv) AS saa,
       |    SUM(CAST(b.pv AS HUGEINT) * b.pv) AS sbb
       |  FROM par a JOIN par b ON a.t = b.t AND a.p < b.p
       |  GROUP BY 1, 2
       |),
       |pairs AS (
       |  SELECT p1, p2, round($connRStr, 6) AS r_par FROM mom
       |),
       |pe AS (
       |  SELECT p1, p2, r_par, $connEdgeStr AS edge FROM pairs
       |)""".stripMargin

  private def connectomeSql: String =
    s"""WITH $connectomeCtes,
       |deg AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM pe WHERE edge = 1
       |    UNION ALL
       |    SELECT p2 AS p FROM pe WHERE edge = 1
       |  ) GROUP BY p
       |)
       |SELECT pe.p1, pe.p2, pe.r_par, pe.edge,
       |  CAST(COALESCE(d1.deg, 0) AS BIGINT) AS deg_p1,
       |  CAST(COALESCE(d2.deg, 0) AS BIGINT) AS deg_p2
       |FROM pe
       |LEFT JOIN deg d1 ON d1.p = pe.p1
       |LEFT JOIN deg d2 ON d2.p = pe.p2
       |ORDER BY p1, p2""".stripMargin

  // ---- q173: connectome graph metrics ------------------------------------
  // The per-node graph layer over the q168 edges (Rubinov & Sporns 2010
  // §"segregation"): per parcel, degree, TRIANGLE count, and the local
  // clustering coefficient C_p = 2·T_p / (deg·(deg−1)) — NULL when deg <
  // 2 leaves it undefined — plus the graph-level edge density every row
  // carries. Triangles enumerate once each as a<b<c via two joins of the
  // ordered edge list against itself; every relation past the q168
  // moments is NP- or NP²-bounded (NP ≈ 10²–10³ at atlas scale:
  // broadcast-class), so nothing here grows with the data. Oracle shares
  // the q168 chain verbatim through pe (donor re-verified).

  def graphMetrics(s: SparkSession, d: String): DataFrame =
    graphMetricsCore(connectomeCore(centsSeries(s, d)))

  /** The q173 body from a q168-shaped (p1, p2, r_par, edge, …) pair
    * relation — split out so specs can plant edge graphs. */
  private[graft] def graphMetricsCore(pairs0: DataFrame): DataFrame = {
    val pe = pairs0.select("p1", "p2", "edge").localCheckpoint() // NP²-bounded
    val parcels = pe.select(col("p1").as("p"))
      .union(pe.select(col("p2").as("p"))).distinct()
    val ones = pe.filter(col("edge") === 1).select("p1", "p2")
    val deg = ones.select(col("p1").as("p"))
      .union(ones.select(col("p2").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    // a<b<c once per triangle: (a,b) joins (b,c), closed by (a,c)
    val tri = ones.selectExpr("p1 AS a", "p2 AS b")
      .join(ones.selectExpr("p1 AS b", "p2 AS c"), Seq("b"))
      .join(ones.selectExpr("p1 AS a", "p2 AS c"), Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("p"))
      .groupBy("p").agg(count(lit(1)).as("tri"))
    val glob = ones.agg(count(lit(1)).as("m"))
      .crossJoin(parcels.agg(count(lit(1)).as("np")))
    parcels
      .join(broadcast(deg), Seq("p"), "left")
      .join(broadcast(tri), Seq("p"), "left")
      .na.fill(0L, Seq("deg", "tri"))
      .crossJoin(broadcast(glob))
      .selectExpr("p", "deg", "tri",
        "CASE WHEN deg >= 2 THEN round(2.0 * tri / (CAST(deg AS DOUBLE) * (deg - 1)), 6) END AS c_coef",
        "CASE WHEN np >= 2 THEN round(2.0 * m / (CAST(np AS DOUBLE) * (np - 1)), 6) END AS density")
      .orderBy("p")
  }

  private def graphMetricsSql: String =
    s"""WITH $connectomeCtes,
       |parcels AS (SELECT p1 AS p FROM pe UNION SELECT p2 FROM pe),
       |ones AS (SELECT p1, p2 FROM pe WHERE edge = 1),
       |deg AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM ones UNION ALL SELECT p2 FROM ones
       |  ) GROUP BY p
       |),
       |tr AS (
       |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
       |  FROM ones e1
       |  JOIN ones e2 ON e2.p1 = e1.p2
       |  JOIN ones e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
       |),
       |tri AS (
       |  SELECT u.p, CAST(count(*) AS BIGINT) AS tri
       |  FROM tr, unnest([a, b, c]) AS u(p) GROUP BY u.p
       |),
       |gstats AS (
       |  SELECT (SELECT count(*) FROM ones) AS m,
       |         (SELECT count(*) FROM parcels) AS np
       |)
       |SELECT parcels.p,
       |  CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
       |  CAST(COALESCE(tri.tri, 0) AS BIGINT) AS tri,
       |  CASE WHEN COALESCE(deg.deg, 0) >= 2
       |    THEN round(2.0 * COALESCE(tri.tri, 0) / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1)), 6) END AS c_coef,
       |  CASE WHEN gstats.np >= 2
       |    THEN round(2.0 * gstats.m / (CAST(gstats.np AS DOUBLE) * (gstats.np - 1)), 6) END AS density
       |FROM parcels
       |LEFT JOIN deg ON deg.p = parcels.p
       |LEFT JOIN tri ON tri.p = parcels.p
       |CROSS JOIN gstats
       |ORDER BY parcels.p""".stripMargin

  // ---- q182: group-level connectome edge inference ------------------------
  // NBS-lite (the edge-level half of Zalesky et al. 2010, stopping before
  // the cluster step): per-SESSION connectomes (g = l_linenumber % GRuns —
  // four acquisitions of the same grid), per-edge Fisher z, and the q148
  // sign-flip permutation kernel at the EDGE grain — under H0 each
  // session's z is symmetric around 0, so the per-edge one-sample t gets
  // an exact permutation p from the Knuth-mixed sign patterns — then
  // q151's distinct-value-rank BH over the NP²/2 edge hypotheses. The
  // permutation/BH machinery is Glm.signFlipCore/fdrBhCore VERBATIM under
  // the (hypothesis, flip-unit) → (edge, session) renaming, so the
  // hash-proven kernel carries; only the first-level facts (z_fp) are new.
  //
  // Determinism: per-session edge moments are exact integer sums (dense
  // n = NT per session); r → z → round(z·1e6) is one shared expression
  // chain (the q158 atanh discipline); everything after z_fp is integer
  // permutation arithmetic plus the shared t expression strings.
  //
  // Scale shape: ONE data-sized exchange (the per-session parcel-series
  // aggregate, map-side combined to GRuns·NP·NT rows); moments, z, the
  // PermP expansion, and BH are all GRuns·NP²-bounded. BH ranks via the
  // distinct-p relation — never a global window over the edge set.

  private val GRuns = 4
  private val edgeAlphaOverM: Double = 0.1 / (connNP * (connNP - 1) / 2)

  private val edgeZStr =
    "CASE WHEN r_par > -1.0 AND r_par < 1.0 " +
      "THEN 0.5 * ln((1.0 + r_par) / (1.0 - r_par)) END"

  /** The per-session cents series (g, t, x, y, z, v). */
  private def sessionSeries(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(
        (col("l_linenumber") % GRuns).cast("int").as("g"),
        ((col("l_orderkey") + col("l_linenumber") * 11) % NT).cast("int").as("t"),
        (col("l_orderkey") % L).cast("int").as("x"),
        (col("l_partkey") % L).cast("int").as("y"),
        (col("l_suppkey") % L).cast("int").as("z"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))

  /** Per-session per-edge Fisher-z facts (g, p1, p2, z_fp) from a
    * (g, t, x, y, z, v-cents) series — the first-level relation the
    * permutation kernel flips. Split out so specs can plant series. */
  private[graft] def edgeZFactsCore(series: DataFrame): DataFrame = {
    val par = series
      .selectExpr("g", s"CAST((x * 7 + y * 11 + z * 13) % $connNP AS INT) AS p",
        "t", "v")
      .groupBy("g", "p", "t").agg(sum("v").as("pv"))
      .localCheckpoint()
    val a = par.selectExpr("g", "p AS p1", "t", "pv AS pva")
    val b = par.selectExpr("g", "p AS p2", "t", "pv AS pvb")
    a.join(b, Seq("g", "t")).filter(col("p1") < col("p2"))
      .groupBy("g", "p1", "p2")
      .agg(sum(expr("CAST(pva AS DECIMAL(38,0)) * pvb")).as("sab"),
        sum("pva").as("sa"), sum("pvb").as("sb"),
        sum(expr("CAST(pva AS DECIMAL(38,0)) * pva")).as("saa"),
        sum(expr("CAST(pvb AS DECIMAL(38,0)) * pvb")).as("sbb"))
      .selectExpr("g", "p1", "p2", s"$connRStr AS r_par")
      .selectExpr("g", "p1", "p2",
        s"CAST(round(($edgeZStr) * 1e6, 0) AS BIGINT) AS z_fp")
  }

  /** Permutation + BH tail over (g, p1, p2, z_fp) facts — split out so
    * specs can plant z patterns and alphas. */
  private[graft] def edgeInferenceCore(s: SparkSession, facts: DataFrame,
      alphaOverM: Double): DataFrame = {
    // fl is GRuns·NP²-bounded but sits behind the DATA-SIZED session-series
    // aggregate, and signFlipParts reads it twice (base + perms) — without
    // a checkpoint q182 re-ran the full lineitem chain per consumer (the
    // same miss nbsCore fixed in r20; r20 verdict item 3). sf is then
    // NP²-bounded with two consumers (bh + the verdict join), but its plan
    // is the fl×PermP expansion: checkpoint it distributed (fresh), not
    // single-partition on the pin session.
    val fl = facts
      .filter(col("z_fp").isNotNull)
      .select(col("p1").as("run"), col("p2").as("j"), col("g"),
        col("z_fp").as("b_fp"))
      .localCheckpoint()
    val sf = graft.util.Loops.fresh(Glm.signFlipCore(s, fl))
    val bh = Glm.fdrBhCore(sf, alphaOverM)
      .select("run", "j", "rk", "kbh", "rejected")
    sf.join(bh, Seq("run", "j"), "left")
      .selectExpr("CAST(run AS INT) AS p1", "CAST(j AS INT) AS p2", "n",
        "t_obs", "p_perm", "rk", "kbh",
        "COALESCE(rejected, false) AS rejected")
      .orderBy("p1", "p2")
  }

  def edgeInference(s: SparkSession, d: String): DataFrame =
    edgeInferenceCore(s, edgeZFactsCore(sessionSeries(s, d)), edgeAlphaOverM)

  /** The q182 oracle prefix — per-session series through the (run, g, j,
    * b_fp) first-level facts — shared verbatim with q196's NBS oracle. */
  private def edgeFlCtes: String =
    s"""mrs AS (
       |  SELECT CAST(l_linenumber % $GRuns AS INTEGER) AS g,
       |         CAST((l_orderkey + l_linenumber * 11) % $NT AS INTEGER) AS t,
       |         CAST(l_orderkey % $L AS INTEGER) AS x,
       |         CAST(l_partkey % $L AS INTEGER) AS y,
       |         CAST(l_suppkey % $L AS INTEGER) AS z,
       |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1, 2, 3, 4, 5
       |),
       |mpar AS (
       |  SELECT g, CAST((x * 7 + y * 11 + z * 13) % $connNP AS INTEGER) AS p,
       |    t, SUM(v) AS pv
       |  FROM mrs GROUP BY 1, 2, 3
       |),
       |mmom AS (
       |  SELECT a.g, a.p AS p1, b.p AS p2,
       |    SUM(CAST(a.pv AS HUGEINT) * b.pv) AS sab,
       |    SUM(a.pv) AS sa, SUM(b.pv) AS sb,
       |    SUM(CAST(a.pv AS HUGEINT) * a.pv) AS saa,
       |    SUM(CAST(b.pv AS HUGEINT) * b.pv) AS sbb
       |  FROM mpar a JOIN mpar b ON a.g = b.g AND a.t = b.t AND a.p < b.p
       |  GROUP BY 1, 2, 3
       |),
       |zed AS (
       |  SELECT g, p1, p2,
       |    CAST(round(($edgeZStr) * 1e6, 0) AS BIGINT) AS z_fp
       |  FROM (SELECT g, p1, p2, $connRStr AS r_par FROM mmom)
       |),
       |fl AS MATERIALIZED (
       |  SELECT p1 AS run, g, p2 AS j, z_fp AS b_fp FROM zed
       |  WHERE z_fp IS NOT NULL
       |)""".stripMargin

  private def edgeInferenceSql: String =
    s"""WITH $edgeFlCtes,
       |${Glm.permCtes},
       |ranked AS (
       |  SELECT run, j, p_perm,
       |    CAST(row_number() OVER (ORDER BY p_perm ASC, run ASC, j ASC) AS BIGINT) AS rk
       |  FROM pp WHERE p_perm IS NOT NULL
       |),
       |km AS (
       |  SELECT COALESCE(MAX(CASE WHEN p_perm <= rk * CAST($edgeAlphaOverM AS DOUBLE) THEN rk END), 0) AS kbh
       |  FROM ranked
       |)
       |SELECT CAST(pp.run AS INTEGER) AS p1, CAST(pp.j AS INTEGER) AS p2,
       |  pp.n, pp.t_obs, pp.p_perm, ranked.rk,
       |  CASE WHEN ranked.rk IS NOT NULL THEN CAST(km.kbh AS BIGINT) END AS kbh,
       |  COALESCE(ranked.rk <= km.kbh, false) AS rejected
       |FROM pp
       |LEFT JOIN ranked ON ranked.run = pp.run AND ranked.j = pp.j
       |CROSS JOIN km
       |ORDER BY p1, p2""".stripMargin

  // ---- q196: NBS — network-based statistic component extent ---------------
  // The cluster step q182 deliberately stopped before (Zalesky et al.
  // 2010's ACTUAL statistic): threshold every edge's one-sample t at a
  // primary |t| > tPrim, label the connected components of the
  // suprathreshold graph, and compare each observed component's EDGE
  // COUNT against the permutation null of the MAX component size — the
  // same sign-flip patterns as q182 (Glm.signFlipParts verbatim), but
  // the exceedance is at the component grain, which is what buys NBS its
  // power over edge-wise FDR. A degenerate flip pattern (NULL t_p) keeps
  // its edge suprathreshold in the null — an undefined statistic must
  // not shrink the null max, same conservatism as q182's NULL-exceedance
  // rule. Undefined observed tests (NULL t_obs) are excluded from the
  // observed graph.
  //
  // Components run on the driver: the observed and permuted edges cross
  // in ONE keyed pin (GraphLoops.pinKeyed, key = permutation, −1 the
  // observed graph), and per key a min-label fixed point
  // (GraphLoops.components) gives comp = the least parcel reachable —
  // the oracle's recursive walk's MIN(b). Deterministic: labels are
  // parcel ids, and a fixed point is unique.
  //
  // Scale shape: ONE data-sized exchange (q182's per-session parcel
  // aggregate); the threshold and the null-max comparison are bounded by
  // PermP·NP² rows, and the component state is PermP·NP labels on the
  // driver — O(PermP·NP·E) work, no closure is ever materialized. Atlas
  // regime by contract: a keyed edge relation over the pin cap fails
  // loudly.

  // |t| > 3.0 primary: the fixture's sign-flip null is heavily
  // inter-edge correlated (one flip pattern moves every edge of a
  // session together), so lower thresholds let nearly every null
  // pattern reproduce the observed component and p pins at 1.0; at 3.0
  // both SFs give non-degenerate component p-values. With GRuns = 4
  // flip units the achievable p floor is ~0.128 (all-same-sign patterns
  // always reproduce |t|), so `rejected` is structurally false on the
  // fixture — the spec plants 10 sessions to prove the gate fires.
  private val nbsTPrim = 3.0
  private val nbsAlpha = 0.05

  /** (k, p, comp) component labels for a (k, a, b)-keyed undirected edge
    * relation: comp = min parcel reachable within key k. */
  private[graft] def nbsComponentsCore(edges: DataFrame): DataFrame = {
    val site = "DesignImage.nbsComponentsCore"
    GraphLoops.pinKeyed(edges.selectExpr("k", "a AS p1", "b AS p2", "1 AS edge"),
      Seq("k"), site).labels("comp", site)(GraphLoops.components(_, site))
  }

  /** The q196 body over q182's (g, p1, p2, z_fp) facts — spec-plantable. */
  private[graft] def nbsCore(s: SparkSession, facts: DataFrame,
      tPrim: Double): DataFrame = {
    // fl is GRuns·NP²-bounded (264 rows at the fixture) but sits behind
    // the DATA-SIZED session-series aggregate — without a checkpoint its
    // three consumers (obsE, permE×2) re-ran the full lineitem chain
    // each (r20, stage accounting: an 8 s re-aggregate stage). One
    // checkpoint = one data pass per run.
    val fl = facts
      .filter(col("z_fp").isNotNull)
      .select(col("p1").as("run"), col("p2").as("j"), col("g"),
        col("z_fp").as("b_fp"))
      .localCheckpoint()
    val (base, permT) = Glm.signFlipParts(s, fl)
    val obsE = base
      .filter(expr(s"t_obs IS NOT NULL AND abs(t_obs) > $tPrim"))
      .selectExpr("CAST(-1 AS BIGINT) AS k", "CAST(run AS INT) AS a",
        "CAST(j AS INT) AS b")
      .localCheckpoint() // bounded (≤ NP² rows); 3 consumers
    val permE = graft.util.Loops.pin(permT
      .filter(expr(s"t_p IS NULL OR abs(t_p) > $tPrim"))
      .selectExpr("perm AS k", "CAST(run AS INT) AS a", "CAST(j AS INT) AS b"))
    // a driver-local relation already (one keyed pin) — a
    // localCheckpoint on top would only re-materialize it as one more job
    val comp = nbsComponentsCore(obsE.unionByName(permE))
    val obsComp = comp.filter(col("k") === -1L).selectExpr("p", "comp")
    val oc = obsE
      .join(obsComp.selectExpr("p AS a", "comp"), Seq("a"))
      .groupBy("comp").agg(count(lit(1)).as("n_edges"))
    val onodes = obsE.selectExpr("a AS p").unionByName(obsE.selectExpr("b AS p"))
      .distinct()
      .join(obsComp, Seq("p"))
      .groupBy("comp").agg(count(lit(1)).as("n_nodes"))
    val permSize = permE
      .join(comp.selectExpr("k", "p AS a", "comp"), Seq("k", "a"))
      .groupBy("k", "comp").agg(count(lit(1)).as("sz"))
    val permMax = s.range(Glm.PermP).select(col("id").as("k"))
      .join(permSize.groupBy("k").agg(max("sz").as("mx")), Seq("k"), "left")
      .na.fill(0L, Seq("mx"))
    // the whole null-max tail is (PermP·NP²)-bounded arithmetic over
    // pinned LocalRelations, but executed on the MAIN session every
    // LocalRelation/Range leaf fans out leafNodeDefaultParallelism-wide
    // and every groupBy runs 32 shuffle tasks — ProbeJobs: three 32-task
    // stages of 1.8-3.9 s summed task time for ≤17k-row inputs. Pinning
    // the final relation runs the tail single-partition on the pin
    // session: one collect job, identical rows.
    graft.util.Loops.pin(
      oc.join(onodes, Seq("comp"))
        .crossJoin(broadcast(permMax.select("mx")))
        .groupBy("comp", "n_nodes", "n_edges")
        .agg(expr("SUM(CASE WHEN mx >= n_edges THEN 1 ELSE 0 END)").as("n_ge"))
        .selectExpr("CAST(comp AS INT) AS comp", "n_nodes", "n_edges",
          s"round((1 + n_ge) / CAST(${1 + Glm.PermP} AS DOUBLE), 6) AS p_nbs")
        .selectExpr("comp", "n_nodes", "n_edges", "p_nbs",
          s"p_nbs <= $nbsAlpha AS rejected"))
      .orderBy("comp") // the sort stays in the plan, past the pin
  }

  def nbsComponents(s: SparkSession, d: String): DataFrame =
    nbsCore(s, edgeZFactsCore(sessionSeries(s, d)), nbsTPrim)

  private def nbsComponentsSql: String =
    s"""WITH RECURSIVE $edgeFlCtes,
       |${Glm.permCtes},
       |obse AS (
       |  SELECT CAST(run AS INTEGER) AS a, CAST(j AS INTEGER) AS b
       |  FROM base WHERE t_obs IS NOT NULL AND abs(t_obs) > $nbsTPrim
       |),
       |perme AS (
       |  SELECT perm AS k, CAST(run AS INTEGER) AS a, CAST(j AS INTEGER) AS b
       |  FROM pt WHERE t_p IS NULL OR abs(t_p) > $nbsTPrim
       |),
       |-- RECURSIVE is live: non-recursive unions stay inside subqueries
       |edg AS (SELECT k, a, b FROM (
       |  SELECT CAST(-1 AS BIGINT) AS k, a, b FROM obse
       |  UNION ALL SELECT k, a, b FROM perme)),
       |syme AS (SELECT k, a, b FROM (
       |  SELECT k, a, b FROM edg UNION ALL SELECT k, b AS a, a AS b FROM edg)),
       |nodes AS (SELECT DISTINCT k, a AS p FROM syme),
       |walk(k, a, b) AS (
       |  SELECT k, p AS a, p AS b FROM nodes
       |  UNION
       |  SELECT w.k, w.a, s.b FROM walk w JOIN syme s ON s.k = w.k AND s.a = w.b
       |),
       |comp AS (SELECT k, a AS p, MIN(b) AS comp FROM walk GROUP BY k, a),
       |oc AS (
       |  SELECT c.comp, CAST(COUNT(*) AS BIGINT) AS n_edges
       |  FROM obse e JOIN comp c ON c.k = -1 AND c.p = e.a
       |  GROUP BY c.comp
       |),
       |onodes AS (
       |  SELECT c.comp, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM (SELECT DISTINCT p FROM (
       |    SELECT a AS p FROM obse UNION ALL SELECT b AS p FROM obse)) n
       |  JOIN comp c ON c.k = -1 AND c.p = n.p
       |  GROUP BY c.comp
       |),
       |permsize AS (
       |  SELECT e.k, c.comp, COUNT(*) AS sz
       |  FROM perme e JOIN comp c ON c.k = e.k AND c.p = e.a
       |  GROUP BY e.k, c.comp
       |),
       |permmax AS (
       |  SELECT r.k, COALESCE(MAX(ps.sz), 0) AS mx
       |  FROM (SELECT CAST(r.r AS BIGINT) AS k FROM unnest(range(${Glm.PermP})) AS r(r)) r
       |  LEFT JOIN permsize ps ON ps.k = r.k
       |  GROUP BY r.k
       |),
       |pv AS (
       |  SELECT oc.comp, onodes.n_nodes, oc.n_edges,
       |    SUM(CASE WHEN pm.mx >= oc.n_edges THEN 1 ELSE 0 END) AS n_ge
       |  FROM oc JOIN onodes ON onodes.comp = oc.comp
       |  CROSS JOIN permmax pm
       |  GROUP BY oc.comp, onodes.n_nodes, oc.n_edges
       |)
       |SELECT CAST(comp AS INTEGER) AS comp, n_nodes, n_edges,
       |  round((1 + n_ge) / CAST(${1 + Glm.PermP} AS DOUBLE), 6) AS p_nbs,
       |  round((1 + n_ge) / CAST(${1 + Glm.PermP} AS DOUBLE), 6) <= $nbsAlpha AS rejected
       |FROM pv
       |ORDER BY comp""".stripMargin
  // The integration half of Rubinov & Sporns 2010 (q173 covered
  // segregation): unweighted shortest paths over the thresholded q168
  // edges, then per parcel the eccentricity, reach count, and nodal
  // efficiency e_p = Σ_j (1/d_pj)/(np−1), plus the graph-level
  // characteristic path length (mean d over FINITE ordered pairs) and
  // global efficiency (Latora–Marchiori: unreachable contributes 0).
  //
  // Distances run on the driver (GraphLoops.distances): the edge
  // relation is pinned once, and one BFS per source (the shared
  // shortest-path kernel at unit lengths) gives every exact hop count.
  // Reciprocals are per-term 1e12-quantized before summing (the q175
  // entropy discipline) so double addition order can never flip a digit.
  //
  // Scale shape: one capped collect of the NP²-bounded pair relation,
  // O(NP·E log NP) driver work, and the NP²-row (a, b, d) result leaves
  // as one LocalRelation, so the tail's pin plans LocalRelation-only.
  // Atlas regime by contract: a relation over the pin cap fails loudly.
  //
  // Oracle: DuckDB recursive-CTE BFS over the same edge set, capped at
  // d < NP.

  /** Per-parcel path metrics from a q168-shaped (p1, p2, …, edge)
    * relation — spec-plantable. */
  private[graft] def pathMetricsCore(pairs0: DataFrame): DataFrame = {
    val site = "DesignImage.pathMetricsCore"
    val g = GraphLoops.pin(pairs0.select("p1", "p2", "edge"), site)
    pathMetricsFromDist(GraphLoops.distances(g, site), g.relation(Nil)(_ => Nil))
  }

  /** The q184/q199 aggregation tail over a finished (a, b, d) shortest-
    * distance relation: per-parcel ecc/reach/nodal efficiency plus the
    * graph-level cpl and global efficiency. */
  private def pathMetricsFromDist(dist: DataFrame, parcels: DataFrame): DataFrame = {
    val glob = dist
      .agg(sum("d").as("sd"), count(lit(1)).as("n_fin"),
        sum(expr("CAST(round(1e12 / d, 0) AS BIGINT)")).as("sr"))
      .crossJoin(parcels.agg(count(lit(1)).as("np")))
    val perP = dist.groupBy(col("a").as("p"))
      .agg(max("d").as("ecc"), count(lit(1)).as("n_reach"),
        sum(expr("CAST(round(1e12 / d, 0) AS BIGINT)")).as("srp"))
    // NP-bounded tail over the driver-built dist/parcel relations: pin
    // (r21 — see modularityWeightedCore's note); shared by q184/q189/q199
    graft.util.Loops.pin(parcels
      .join(broadcast(perP), Seq("p"), "left")
      .crossJoin(broadcast(glob))
      .selectExpr("p", "ecc", "COALESCE(n_reach, 0L) AS n_reach",
        "round(CAST(COALESCE(srp, 0L) AS DOUBLE) / (np - 1) / 1e12, 6) AS eff_p",
        "CASE WHEN n_fin > 0 THEN round(CAST(sd AS DOUBLE) / n_fin, 6) END AS cpl",
        "round(CAST(sr AS DOUBLE) / (CAST(np AS DOUBLE) * (np - 1)) / 1e12, 6) AS eff_glob")
      .orderBy("p"))
  }

  // ---- q199: path metrics by FRONTIER BFS (the voxel-regime road) ----------
  // q199 names the per-source frontier BFS, whose total work is O(N·E)
  // where an all-pairs min-plus doubling joins NP³ per round — the road
  // for 10⁵⁺-node voxel graphs. The shared driver kernel is that BFS, so
  // q199 runs q184's entry under q184's oracle; a spec pins its hand
  // values on a two-component graph.
  //
  // Scale shape: q184's.

  def pathMetricsBfs(s: SparkSession, d: String): DataFrame =
    pathMetrics(s, d)

  // ---- q203: eigenvector centrality (ECM) -----------------------------------
  // The hub metric of the connectome toolbox (Lohmann et al. 2010's fast
  // ECM practice; Rubinov & Sporns 2010 §"centrality") that degree can't
  // see: a node is central when its NEIGHBORS are central — the dominant
  // eigenvector of the adjacency. Computed as FOUR UNNORMALIZED power-
  // iteration steps of the SHIFTED matrix, x ← (A + I)·x, from the
  // all-ones vector — the +I shift is the standard ECM positivity trick
  // (Lohmann 2010 uses the same idea via a nonnegative similarity): on a
  // bipartite component plain A·x oscillates (a star's hub and leaves
  // TIE at every even step), while A + I has a unique dominant
  // eigenvector on every connected component. Every intermediate is an
  // EXACT integer (entries ≤ (deg_max+1)⁴ ≤ (NP+1)⁴, int64-trivial), so
  // normalization happens exactly once at the end — one correctly-
  // rounded double division per node (the q166 lesson applied at birth:
  // no float chain for an oracle engine to ULP-drift). Four steps
  // separate hubs from leaves at atlas diameters; the iteration count is
  // a fixed documented constant (the q65 fixed-rounds convention), not a
  // convergence loop — the replayed oracle must run the same arithmetic.
  //
  // Scale shape: one capped collect of the NP²-bounded pair relation;
  // the four steps run on the driver over its adjacency arrays
  // (GraphLoops.ecm, O(E) each, exact Long); the NP-row vector leaves as
  // one LocalRelation and the max/normalization tail is Catalyst over it.
  // An isolated parcel keeps its initial unit.

  private val ecmSteps = 4

  /** ECM core from a q168-shaped (p1, p2, …, edge) relation. */
  private[graft] def eigenCentralityCore(pairs0: DataFrame): DataFrame = {
    val site = "DesignImage.eigenCentralityCore"
    val g = GraphLoops.pin(pairs0.select("p1", "p2", "edge"), site)
    val ex = GraphLoops.ecm(g, ecmSteps, site)
    val x = g.relation(Seq(StructField("x", LongType, nullable = false)))(
      i => Seq(ex(i)))
    // NP-bounded tail over the driver-built vector: pin (r21)
    graft.util.Loops.pin(x.crossJoin(broadcast(x.agg(max("x").as("mx"))))
      .selectExpr("p", "x AS ec_raw",
        "CASE WHEN mx > 0 THEN round(CAST(x AS DOUBLE) / mx, 6) END AS ec")
      .orderBy("p"))
  }

  // ---- q204: module roles — participation coefficient + within-module z ---
  // The node-role taxonomy of Guimerà & Amaral 2005 as used in network
  // neuroscience (Power et al. 2011; Rubinov & Sporns 2010 §"modular
  // roles"): against a FIXED system assignment (the atlas-network lookup
  // practice — here module(p) = p mod 3, the engine's stand-in for a
  // Yeo/Power network table), report per parcel its degree, within-
  // module degree, participation coefficient
  //   PC_p = 1 − Σ_m (κ_pm / k_p)²  =  (k_p² − Σ_m κ_pm²) / k_p²
  // (computed as exact integer numerator/denominator with ONE double
  // division — the q166/q203 discipline), and the within-module degree
  // z-score (population ddof, the A6 convention) from exact per-module
  // integer moments through the shared mean/var expression strings.
  // Connector hubs read high-PC/high-z; provincial hubs high-z/low-PC.
  //
  // Scale shape: the NP²-bounded edge relation and the NP-row module
  // assignment are pinned to the driver once each (capped at PinMaxRows:
  // an over-cap relation fails loudly), the per-parcel-per-module counts
  // and per-module moments fold there in exact integers
  // (GraphLoops.roleMoments), and pc / z_within are the expression
  // strings below evaluated over the one NP-row LocalRelation that
  // results — no job after the collects.

  private val moduleCount = 3

  /** Module-role core from a q168-shaped (p1, p2, …, edge) relation and
    * an explicit (p, m) module assignment — the Guimerà–Amaral kernel
    * shared by q204 (fixed atlas-style assignment) and q208 (data-driven
    * label-propagation modules). */
  private[graft] def moduleRolesWith(pairs0: DataFrame,
      modules: DataFrame): DataFrame =
    moduleRolesOn(GraphLoops.pin(pairs0, "DesignImage.moduleRolesWith"),
      modules)

  /** The role kernel over an already-pinned graph, rows in parcel order. */
  private def moduleRolesOn(g: GraphLoops.Graph,
      modules: DataFrame): DataFrame =
    GraphLoops.roleMoments(g, modules, "DesignImage.moduleRoles")
      .selectExpr("p", "CAST(m AS INT) AS module", "k", "k_in",
        "CASE WHEN k > 0 THEN round(CAST(k * k - skk AS DOUBLE) / (k * k), 6) END AS pc",
        s"CASE WHEN $mrVarStr > 0 THEN round((CAST(k_in AS DOUBLE) - $mrMeanStr) / sqrt($mrVarStr), 6) END AS z_within")

  /** Module-role core under q204's FIXED stand-in assignment. */
  private[graft] def moduleRolesCore(pairs0: DataFrame): DataFrame = {
    val g = GraphLoops.pin(pairs0, "DesignImage.moduleRolesCore")
    moduleRolesOn(g,
      g.relation(Nil)(_ => Nil).selectExpr("p", s"p % $moduleCount AS m"))
  }

  private val mrMeanStr = "CAST(s1 AS DOUBLE) / n"
  private val mrVarStr =
    "(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))"

  def moduleRoles(s: SparkSession, d: String): DataFrame =
    moduleRolesCore(connectomeCore(centsSeries(s, d)))

  private def moduleRolesSql: String =
    s"""WITH $connectomeCtes,
       |mparcels AS (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe UNION ALL SELECT p2 AS p FROM pe)),
       |mones AS (SELECT p1, p2 FROM pe WHERE edge = 1),
       |msym AS (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |mkm AS (
       |  SELECT p, q % $moduleCount AS m, CAST(count(*) AS BIGINT) AS kin
       |  FROM msym GROUP BY 1, 2
       |),
       |mdeg AS (
       |  SELECT p, CAST(SUM(kin) AS BIGINT) AS k,
       |    CAST(SUM(kin * kin) AS BIGINT) AS skk
       |  FROM mkm GROUP BY p
       |),
       |mown AS (
       |  SELECT mparcels.p, mparcels.p % $moduleCount AS m,
       |    COALESCE(mdeg.k, 0) AS k, COALESCE(mdeg.skk, 0) AS skk,
       |    COALESCE(mkm.kin, 0) AS k_in
       |  FROM mparcels
       |  LEFT JOIN mdeg ON mdeg.p = mparcels.p
       |  LEFT JOIN mkm ON mkm.p = mparcels.p AND mkm.m = mparcels.p % $moduleCount
       |),
       |mmom AS (
       |  SELECT m, CAST(count(*) AS BIGINT) AS n, CAST(SUM(k_in) AS BIGINT) AS s1,
       |    CAST(SUM(k_in * k_in) AS BIGINT) AS s2
       |  FROM mown GROUP BY m
       |)
       |SELECT o.p, CAST(o.m AS INTEGER) AS module, CAST(o.k AS BIGINT) AS k,
       |  CAST(o.k_in AS BIGINT) AS k_in,
       |  CASE WHEN o.k > 0 THEN round(CAST(o.k * o.k - o.skk AS DOUBLE) / (o.k * o.k), 6) END AS pc,
       |  CASE WHEN $mrVarStr > 0 THEN round((CAST(k_in AS DOUBLE) - $mrMeanStr) / sqrt($mrVarStr), 6) END AS z_within
       |FROM mown o JOIN mmom ON mmom.m = o.m
       |ORDER BY o.p""".stripMargin

  def eigenCentrality(s: SparkSession, d: String): DataFrame =
    eigenCentralityCore(connectomePairs(centsSeries(s, d)))

  // ---- q208: data-driven modules (label propagation) + module roles -------
  // Closes q204's declared gap: the named practice (Power et al. 2011;
  // Rubinov & Sporns 2010 §"modularity") derives modules FROM THE GRAPH,
  // not from an atlas lookup. Detection is synchronous label propagation
  // (Raghavan et al. 2007) made deterministic and oracle-replayable the
  // q65/q196 way: labels start as parcel ids; each round every node
  // adopts the most frequent label among its neighbors PLUS ITSELF (the
  // self-vote is the bipartite-oscillation damper — the q203 A+I trick
  // at the label grain), ties broken by (count DESC, label ASC) — a
  // total integer order, so both engines propagate identical labels.
  // ROUNDS STOP AT THE FIXED POINT (the r18 verdict's top item —
  // reclaim the node-count ceiling's overhead — closed one step past
  // the prescribed diameter measurement, which was tried first and
  // re-probed SLOWER on the keyed q236: ⌈log₂ n⌉ min-plus doubling
  // rounds cost NP³-bounded joins that the reclaimed LPA rounds don't
  // pay for; see SCALE.md). The synchronous update is a DETERMINISTIC
  // map F over the label relation, so the first round with
  // lab_k = lab_{k−1} makes every later round a no-op — the driver loop
  // compares the two label arrays after each round and stops, while the
  // ORACLE keeps its plain connNP-round unroll: its rounds past the fixed
  // point reproduce the same labels by construction, so the engines agree
  // EXACTLY whenever a fixed point is reached. Should a pathological
  // graph never converge (synchronous LPA can 2-cycle; the self-vote
  // damps but does not forbid it), the connectome callers pin
  // maxRounds = connNP — the oracle's unroll count — so both engines
  // then run IDENTICAL round counts and still agree; the r18 "every
  // residue is populated" assumption is gone in both regimes. Flood
  // coverage holds because a fixed point cannot precede the flood:
  // while any label is still traveling, some node changed last round
  // (spec-pinned on a planted chain). The final labels feed the SAME
  // Guimerà–Amaral PC / within-module-z kernel as q204, so the two
  // queries differ in exactly one input: who says what the modules are.
  //
  // Scale shape: the NP²-bounded edge relation is collected to the
  // driver ONCE (capped at PinMaxRows — an over-cap relation fails
  // loudly with the site's name) and the rounds run there over adjacency
  // arrays (GraphLoops.lpa): per round one vote tally per node over its
  // neighbor entries plus itself, O(NP²) integer work with no job;
  // rounds = observed convergence depth (≈ graph diameter + O(1) on real
  // graphs), ceilinged at the node count. The labels leave as one NP-row
  // LocalRelation; q208 feeds the same pinned graph straight into the
  // role moments, so its only job is the one edge collect.
  //
  // Graph choice: detection (and the roles, for consistency) run on the
  // POSITIVE-tie graph r ≥ 0.2 — module detection conventionally keeps
  // positive weights only (Rubinov & Sporns 2010's modularity treats
  // negative ties separately) and SPARSIFIES (Power 2011 thresholds to
  // 2–10% density; q168's |r| ≥ 0.1 graph holds >50% of all pairs and
  // measured LPA collapse to ONE module at both SFs — vacuous). At
  // r ≥ 0.2 the fixture yields 12% density and non-trivial modules at
  // both SFs (4+4+singletons / 6+2+singletons — measured, so the verdict
  // column is live). r_par is rounded to 6 dp before the compare, the
  // q168 edge discipline.

  private val lpaEdgeStr =
    "CASE WHEN r_par IS NOT NULL AND r_par >= CAST(0.2 AS DOUBLE) " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"

  /** Deterministic label propagation over a q168-shaped (p1, p2, …,
    * edge) relation (or a (p1, p2, w) one: LPA counts entries, not
    * weights) → (p, m) modules; the loop stops at the first
    * fixed-point round (see the q208 section note), ceilinged at
    * `maxRounds` (≤ 0 ⇒ the input's node count). Connectome callers
    * pass connNP — the oracle's unroll count — so a never-converging
    * graph still runs the engines in lockstep. */
  private[graft] def lpaModules(pairs0: DataFrame,
      maxRounds: Int = 0): DataFrame = {
    val site = "DesignImage.lpaModules"
    lpaModulesOn(GraphLoops.pin(pairs0, site), maxRounds, site)
  }

  /** LPA over an already-pinned graph → (p, m), rows in parcel order. */
  private def lpaModulesOn(g: GraphLoops.Graph, maxRounds: Int,
      site: String): DataFrame =
    modulesOf(g, GraphLoops.lpa(g, maxRounds, site)._1)

  /** Per-node labels (node indices) of a pinned graph → (p, m), rows in
    * parcel order, m = the label node's id as INT. */
  private def modulesOf(g: GraphLoops.Graph, lab: Array[Int]): DataFrame =
    g.relation(Seq(g.idField.copy(name = "lab")))(i => Seq(g.ids(lab(i))))
      .selectExpr("p", "CAST(lab AS INT) AS m")

  def moduleLpa(s: SparkSession, d: String): DataFrame = {
    val site = "DesignImage.moduleLpa"
    val g = GraphLoops.pin(
      connectomePairs(centsSeries(s, d))
        .selectExpr("p1", "p2", s"$lpaEdgeStr AS edge"), site)
    moduleRolesOn(g, lpaModulesOn(g, connNP, site))
  }

  // ---- q212: Newman modularity Q of the LPA partition ----------------------
  // The quality statistic module detection REPORTS (Newman 2006; Rubinov
  // & Sporns 2010 §"modularity"): Q = Σ_m [ e_mm/M − (d_m/2M)² ] over
  // the same positive-tie r ≥ 0.2 graph and the same LPA labels as
  // q208 — per module its node count, intra-module edge count, total
  // degree, exact-integer contribution numerator qn = 4·M·e_mm − d_m²,
  // and the graph-level Q = Σqn / 4M² repeated per row (the q184
  // eff_glob convention). Every numerator is an exact integer; ONE
  // correctly-rounded double division per output (the q166 discipline).
  // Q near 0 ⇒ no better than chance; the planted two-clique spec pins
  // the textbook Q = 5/14 with a bridge and 1/2 without.
  //
  // Engine form: the unit-weight case of q226's weighted core (w = edge,
  // so W = M, w_in = e_in, s_tot = d_tot and qn is the same integer),
  // its columns renamed back to the unweighted names.
  //
  // Scale shape: everything after the connectome moments is NP²-bounded
  // (edge relation) with NP-bounded module aggregates — q208's class.

  /** q212/q225/q239's modularity relation: the weighted core over a
    * (p1, p2, w = edge) relation, under the unweighted column names
    * (module, n_nodes, e_in, d_tot, q_contrib, q). */
  private def edgeModularity(pe: DataFrame, modules: DataFrame): DataFrame =
    modularityWeightedCore(pe, modules)
      .toDF("module", "n_nodes", "e_in", "d_tot", "q_contrib", "q")

  def modularityQ(s: SparkSession, d: String): DataFrame = {
    val pe = connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$lpaEdgeStr AS w").localCheckpoint()
    edgeModularity(pe, lpaModules(pe, maxRounds = connNP))
  }

  /** The modularity CTE tail (edge-label join → per-module aggregates →
    * final Q select) over an arbitrary (p, m) module CTE — shared by the
    * LPA-partition query (q212) and the Louvain-partition query (q225),
    * so the two differ in exactly one input: who says what the modules
    * are. */
  private def modularityTailSql(modCte: String): String =
    s"""mml AS MATERIALIZED (
       |  SELECT a.m AS m1, b.m AS m2
       |  FROM mones JOIN $modCte a ON a.p = mones.p1 JOIN $modCte b ON b.p = mones.p2
       |),
       |mE AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM mml),
       |ein AS (
       |  SELECT m1 AS module, CAST(count(*) AS BIGINT) AS e_in
       |  FROM mml WHERE m1 = m2 GROUP BY 1
       |),
       |dm AS (
       |  SELECT m AS module, CAST(count(*) AS BIGINT) AS d_tot FROM (
       |    SELECT m1 AS m FROM mml UNION ALL SELECT m2 AS m FROM mml
       |  ) GROUP BY 1
       |),
       |nn AS (
       |  SELECT m AS module, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM $modCte GROUP BY 1
       |),
       |per AS MATERIALIZED (
       |  SELECT nn.module, nn.n_nodes, COALESCE(ein.e_in, 0) AS e_in,
       |    COALESCE(dm.d_tot, 0) AS d_tot, mE.m_edges,
       |    4 * mE.m_edges * COALESCE(ein.e_in, 0)
       |      - COALESCE(dm.d_tot, 0) * COALESCE(dm.d_tot, 0) AS qn
       |  FROM nn
       |  LEFT JOIN ein ON ein.module = nn.module
       |  LEFT JOIN dm ON dm.module = nn.module
       |  CROSS JOIN mE
       |),
       |qt AS (SELECT CAST(SUM(qn) AS BIGINT) AS qsum FROM per)
       |SELECT module, n_nodes, e_in, d_tot,
       |  CASE WHEN m_edges > 0 THEN round(CAST(qn AS DOUBLE) / CAST(4 * m_edges * m_edges AS BIGINT), 6) END AS q_contrib,
       |  CASE WHEN m_edges > 0 THEN round(CAST(qsum AS DOUBLE) / CAST(4 * m_edges * m_edges AS BIGINT), 6) END AS q
       |FROM per CROSS JOIN qt
       |ORDER BY module""".stripMargin

  private def modularityQSql: String =
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |mparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |mones AS MATERIALIZED (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |msym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |${lpaCtes(connNP)},
       |${modularityTailSql("mmod")}""".stripMargin

  /** The generated LPA round CTEs: lp0 … lp{rounds} over mparcels/msym,
    * ending in `mmod(p, m)`. The unroll count is the SPARK side's round
    * CAP (connNP): the Spark loop stops at its fixed point and every
    * oracle round past that fixed point reproduces the same labels (the
    * update is a deterministic map — see the q208 section note), so the
    * plain unroll agrees with the early-stopped loop exactly. */
  private def lpaCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""lpv$i AS MATERIALIZED (
         |  SELECT v.p, v.lab, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT s.p AS p, l.lab AS lab FROM msym s JOIN lp${i - 1} l ON l.p = s.q
         |    UNION ALL
         |    SELECT p, lab FROM lp${i - 1}
         |  ) v GROUP BY v.p, v.lab
         |),
         |lp$i AS MATERIALIZED (
         |  SELECT p, lab FROM (
         |    SELECT p, lab, ROW_NUMBER() OVER (PARTITION BY p
         |      ORDER BY c DESC, lab ASC) AS rn
         |    FROM lpv$i) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""lp0 AS MATERIALIZED (SELECT p, p AS lab FROM mparcels),
       |$roundCtes,
       |mmod AS MATERIALIZED (SELECT p, CAST(lab AS INTEGER) AS m FROM lp$rounds)""".stripMargin
  }

  private def moduleLpaSql: String =
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |mparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |mones AS MATERIALIZED (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |msym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |${lpaCtes(connNP)},
       |mkm AS (
       |  SELECT s.p, mm.m, CAST(count(*) AS BIGINT) AS kin
       |  FROM msym s JOIN mmod mm ON mm.p = s.q
       |  GROUP BY 1, 2
       |),
       |mdeg AS (
       |  SELECT p, CAST(SUM(kin) AS BIGINT) AS k,
       |    CAST(SUM(kin * kin) AS BIGINT) AS skk
       |  FROM mkm GROUP BY p
       |),
       |mown AS (
       |  SELECT mparcels.p, mmod.m,
       |    COALESCE(mdeg.k, 0) AS k, COALESCE(mdeg.skk, 0) AS skk,
       |    COALESCE(mkm.kin, 0) AS k_in
       |  FROM mparcels
       |  JOIN mmod ON mmod.p = mparcels.p
       |  LEFT JOIN mdeg ON mdeg.p = mparcels.p
       |  LEFT JOIN mkm ON mkm.p = mparcels.p AND mkm.m = mmod.m
       |),
       |mmom AS (
       |  SELECT m, CAST(count(*) AS BIGINT) AS n, CAST(SUM(k_in) AS BIGINT) AS s1,
       |    CAST(SUM(k_in * k_in) AS BIGINT) AS s2
       |  FROM mown GROUP BY m
       |)
       |SELECT o.p, CAST(o.m AS INTEGER) AS module, CAST(o.k AS BIGINT) AS k,
       |  CAST(o.k_in AS BIGINT) AS k_in,
       |  CASE WHEN o.k > 0 THEN round(CAST(o.k * o.k - o.skk AS DOUBLE) / (o.k * o.k), 6) END AS pc,
       |  CASE WHEN $mrVarStr > 0 THEN round((CAST(k_in AS DOUBLE) - $mrMeanStr) / sqrt($mrVarStr), 6) END AS z_within
       |FROM mown o JOIN mmom ON mmom.m = o.m
       |ORDER BY o.p""".stripMargin

  // ---- q225: one-level deterministic Louvain (ΔQ-greedy modules) -----------
  // The named practice q208's LPA stands in for (Rubinov & Sporns 2010
  // cite Newman's spectral and the greedy-Q family; Blondel et al. 2008
  // is the field's default): locally optimize modularity Q by moving
  // each node to the neighboring community with the best exact-integer
  // modularity gain. One LEVEL only (no coarsening pass), made
  // deterministic and oracle-replayable the q65/q196/q208 way:
  //
  //   - SYNCHRONOUS sweeps with an alternating PARITY gate: in round r
  //     only nodes with p % 2 == r % 2 may move (the deterministic
  //     stand-in for sequential node order — it breaks the two-node
  //     swap oscillation synchronous gain-max is famous for, since two
  //     adjacent movers of equal parity see each other frozen);
  //   - the candidate set is the node's neighboring communities PLUS
  //     its own (staying is always a candidate, with the node's own
  //     contribution removed from Σtot — the standard remove-then-
  //     reinsert bookkeeping);
  //   - the comparable gain is EXACT INTEGER: dropping the k_i²/(4M²)
  //     term constant across candidates, argmax_c ΔQ(i→c) =
  //     argmax_c [ 2M·k_{i,c} − k_i·Σtot̃(c) ] with Σtot̃ excluding i
  //     itself (the oracle's int64 holds through NP ≈ 10⁵; the engine
  //     runs q230's weighted gain at w = 1, in BigInt);
  //   - ties break (gain DESC, c ASC) — a total integer order, so both
  //     engines sweep identically; rounds are FIXED at louvainRounds
  //     (a quality sweep, not a convergence bound — one-level Louvain
  //     is itself a fixed-depth heuristic).
  //
  // The output is the SAME per-module modularity relation as q212
  // (shared edgeModularity / SQL tail), so the two queries differ in
  // exactly one input — who says what the modules are — and the spec
  // pins the planted path graph where Louvain's Q beats LPA's (LPA
  // floods a path to ONE label → Q = 0; ΔQ-greedy splits it).
  //
  // Engine form: q230's detector at unit weights (w = edge) — one
  // Louvain for both, run on the driver (GraphLoops.louvain) over one
  // capped edge collect: per round one gain scan per node over its
  // neighbor entries, O(NP²) integer work with no job; rounds are the
  // fixed louvainRounds. The NP-row labels leave as one LocalRelation.

  private val louvainRounds = 4

  /** Deterministic one-level Louvain over a (p1, p2, w) relation (w = 0
    * ⇒ no edge; unit weights are q225's unweighted detector) → (p, m)
    * modules. Parcel ids must be ≥ 0 (the parity gate uses p % 2; every
    * caller's ids are hash residues or planted non-negative ids). */
  private[graft] def louvainModules(wpairs: DataFrame): DataFrame = {
    val site = "DesignImage.louvainModules"
    val g = GraphLoops.pin(wpairs, site)
    modulesOf(g, GraphLoops.louvain(g, louvainRounds, site))
  }

  def modularityLouvain(s: SparkSession, d: String): DataFrame = {
    val pe = connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$lpaEdgeStr AS w").localCheckpoint()
    edgeModularity(pe, louvainModules(pe))
  }

  /** The generated Louvain round CTEs: lu0 … lu{rounds} over
    * mparcels/msym, ending in `lumod(p, m)`. */
  private def louvainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      val parity = (i - 1) % 2
      s"""lust$i AS (
         |  SELECT l.c, CAST(SUM(d.k) AS BIGINT) AS s
         |  FROM lu${i - 1} l JOIN ludeg d ON d.p = l.p GROUP BY 1
         |),
         |lukic$i AS (
         |  SELECT s.p, l.c, CAST(count(*) AS BIGINT) AS kin
         |  FROM msym s JOIN lu${i - 1} l ON l.p = s.q GROUP BY 1, 2
         |),
         |lucand$i AS (
         |  SELECT p, c, MAX(kin) AS kin FROM (
         |    SELECT p, c, kin FROM lukic$i
         |    UNION ALL SELECT p, c, CAST(0 AS BIGINT) FROM lu${i - 1}
         |  ) GROUP BY p, c
         |),
         |lug$i AS (
         |  SELECT cand.p, cand.c, cur.c AS cur,
         |    luM.m2 * cand.kin
         |      - d.k * (st.s - CASE WHEN cand.c = cur.c THEN d.k ELSE 0 END) AS g
         |  FROM lucand$i cand
         |  JOIN lust$i st ON st.c = cand.c
         |  JOIN ludeg d ON d.p = cand.p
         |  JOIN lu${i - 1} cur ON cur.p = cand.p
         |  CROSS JOIN luM
         |),
         |lu$i AS MATERIALIZED (
         |  SELECT p, CASE WHEN p % 2 = $parity THEN c ELSE cur END AS c FROM (
         |    SELECT p, c, cur,
         |      ROW_NUMBER() OVER (PARTITION BY p ORDER BY g DESC, c ASC) AS rn
         |    FROM lug$i) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""lu0 AS MATERIALIZED (SELECT p, p AS c FROM mparcels),
       |ludeg AS MATERIALIZED (
       |  SELECT mparcels.p, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS k
       |  FROM mparcels LEFT JOIN (
       |    SELECT p, count(*) AS cnt FROM msym GROUP BY p) d ON d.p = mparcels.p
       |),
       |luM AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM msym),
       |$roundCtes,
       |lumod AS MATERIALIZED (SELECT p, CAST(c AS INTEGER) AS m FROM lu$rounds)""".stripMargin
  }

  private def modularityLouvainSql: String =
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |mparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |mones AS MATERIALIZED (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |msym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |${louvainCtes(louvainRounds)},
       |${modularityTailSql("lumod")}""".stripMargin

  // ---- q239: multi-level Louvain (the level-2 aggregation pass) -------------
  // The step that makes Blondel et al. 2008 the NAMED algorithm rather
  // than one greedy sweep (r18 verdict gap #2): after q225's level-1
  // sweeps, whole communities aggregate into SUPERNODES and a second
  // ΔQ pass runs on the coarsened graph — on real connectomes the
  // second level is where resolution comes from, because level 1 can
  // never move a whole module (a single node leaving a tight clique
  // always loses) while level 2 moves it as one unit.
  //
  // The level-2 pass is MUTUAL-BEST-PAIR MERGING, not the parity-gated
  // node-move sweep: a move-based level 2 was built first and MEASURED
  // WORSE on the resolution-limit witness (ring of 10 triangles,
  // Fortunato & Barthélemy 2007: optimal merges adjacent triangles) —
  // synchronous gain-max lets two supernodes join the same middle
  // community in one round (the parity gate only freezes ADJACENT
  // movers), over-merging triples and dropping Q 0.65 → 0.61. The
  // matching form cannot over-merge by construction: each round every
  // community names its best merge partner by exact-integer gain
  // 2M·w₁₂ − d₁·d₂ > 0 (ties → partner id ASC), and only MUTUAL pairs
  // merge (label = LEAST of the two) — a matching is disjoint, each
  // community's Q terms are touched by at most one merge, so the
  // frozen-state gains are EXACT and Q strictly increases every
  // accepted merge (spec-pinned: the ring improves 0.65 → 0.67 and the
  // triangles stay intact). Supernode strengths s_m = Σ member degrees
  // keep intra edges (they live in d, not in w); 2M is the ORIGINAL
  // graph's. Gains ride BigInt in the engine and HUGEINT in the oracle
  // (the q230 discipline — community degrees reach 2M, so d₁·d₂ passes
  // int64 where level-1's k_i ≤ NP bound could not). The output is the
  // SAME per-module modularity relation as q212/q225 over the final
  // partition, so the three queries differ in exactly one input: who
  // says the modules.
  //
  // Engine form: both levels run on the driver (GraphLoops.louvain then
  // louvainLevel2) over ONE capped edge collect; level 2 works on the
  // node labels directly (a community's weight to another is the sum of
  // its members' entries into it), so no coarse graph is built. A round
  // with no mutual merge leaves the state unchanged and the sweep is a
  // deterministic map of the state, so the loop stops there (the q208
  // fixed-point argument); the oracle's plain unroll of louvainRounds
  // reproduces the same labels (each round halves at best, so 4 rounds
  // cover a 16× aggregation).
  //
  // Scale shape: q225's — one NP²-bounded edge collect, O(NP²) integer
  // work per round on the driver, one NP-row LocalRelation out.

  /** Two-level deterministic Louvain over a (p1, p2, w) relation → (p, m)
    * modules. */
  private[graft] def louvainTwoLevelModules(wpairs: DataFrame): DataFrame = {
    val site = "DesignImage.louvainTwoLevelModules"
    val g = GraphLoops.pin(wpairs, site)
    modulesOf(g, GraphLoops.louvainLevel2(g,
      GraphLoops.louvain(g, louvainRounds, site), louvainRounds, s"$site/level2"))
  }

  def modularityLouvainMulti(s: SparkSession, d: String): DataFrame = {
    val pe = connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$lpaEdgeStr AS w").localCheckpoint()
    edgeModularity(pe, louvainTwoLevelModules(pe))
  }

  /** The generated level-2 CTEs: coarsen `lumod` over mones into
    * csym/cstr, then per round the mutual-best-pair merge (best partner
    * by gain 2M·w − d₁·d₂ > 0, ties partner-ASC; only mutual pairs
    * merge, label = LEAST), l2_0 … l2_{rounds}, ending in
    * `ml2mod(p, m)` — the final node-grain partition. */
  private def louvainLevel2Ctes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""l2cw$i AS (
         |  SELECT x.c AS c1, y.c AS c2, CAST(SUM(e.w) AS BIGINT) AS w
         |  FROM csym e
         |  JOIN l2_${i - 1} x ON x.m = e.a
         |  JOIN l2_${i - 1} y ON y.m = e.b
         |  WHERE x.c <> y.c GROUP BY 1, 2
         |),
         |l2cd$i AS (
         |  SELECT l.c, CAST(SUM(d.s) AS BIGINT) AS d
         |  FROM l2_${i - 1} l JOIN cstr d ON d.m = l.m GROUP BY 1
         |),
         |l2b$i AS MATERIALIZED (
         |  SELECT c1 AS c, c2 AS b FROM (
         |    SELECT g.c1, g.c2,
         |      ROW_NUMBER() OVER (PARTITION BY g.c1 ORDER BY
         |        CAST(c2m.m2 AS HUGEINT) * g.w - CAST(a.d AS HUGEINT) * b.d DESC,
         |        g.c2 ASC) AS rn
         |    FROM l2cw$i g
         |    JOIN l2cd$i a ON a.c = g.c1
         |    JOIN l2cd$i b ON b.c = g.c2
         |    CROSS JOIN c2m
         |    WHERE CAST(c2m.m2 AS HUGEINT) * g.w - CAST(a.d AS HUGEINT) * b.d > 0
         |  ) WHERE rn = 1
         |),
         |l2mu$i AS (
         |  SELECT x.c, LEAST(x.c, x.b) AS nc
         |  FROM l2b$i x JOIN l2b$i y ON y.c = x.b AND y.b = x.c
         |),
         |l2_$i AS MATERIALIZED (
         |  SELECT l.m, COALESCE(mu.nc, l.c) AS c
         |  FROM l2_${i - 1} l LEFT JOIN l2mu$i mu ON mu.c = l.c
         |)""".stripMargin
    }.mkString(",\n")
    s"""cml AS MATERIALIZED (
       |  SELECT a.m AS m1, b.m AS m2
       |  FROM mones JOIN lumod a ON a.p = mones.p1 JOIN lumod b ON b.p = mones.p2
       |),
       |csym AS MATERIALIZED (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT m1 AS a, m2 AS b FROM cml WHERE m1 <> m2
       |    UNION ALL SELECT m2 AS a, m1 AS b FROM cml WHERE m1 <> m2
       |  ) GROUP BY 1, 2
       |),
       |cnodes AS MATERIALIZED (SELECT DISTINCT m FROM lumod),
       |cstr AS MATERIALIZED (
       |  SELECT cnodes.m, CAST(COALESCE(d.s, 0) AS BIGINT) AS s
       |  FROM cnodes LEFT JOIN (
       |    SELECT m, count(*) AS s FROM (
       |      SELECT m1 AS m FROM cml UNION ALL SELECT m2 AS m FROM cml
       |    ) GROUP BY 1) d ON d.m = cnodes.m
       |),
       |c2m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM msym),
       |l2_0 AS MATERIALIZED (SELECT m, m AS c FROM cnodes),
       |$roundCtes,
       |ml2mod AS MATERIALIZED (
       |  SELECT lumod.p, CAST(l.c AS INTEGER) AS m
       |  FROM lumod JOIN l2_$rounds l ON l.m = lumod.m
       |)""".stripMargin
  }

  private def modularityLouvainMultiSql: String =
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |mparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |mones AS MATERIALIZED (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |msym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |${louvainCtes(louvainRounds)},
       |${louvainLevel2Ctes(louvainRounds)},
       |${modularityTailSql("ml2mod")}""".stripMargin

  // ---- q240: betweenness centrality (sampled-source Brandes) ----------------
  // The one standard Rubinov–Sporns centrality the repo lacked (r18
  // verdict gap #3; eigenvector q203, degree q214, strength q228,
  // k-core q215 exist): fraction-of-shortest-paths-through-v, computed
  // the Brandes 2001 way — per source a BFS forward sweep accumulating
  // shortest-path COUNTS σ, then a backward dependency sweep
  //   δ(v) = Σ_{w: v ∈ pred(w)} (σ_v/σ_w)·(1 + δ(w)),
  // bc(v) = Σ_{s ≠ v} δ_s(v). Sources are SAMPLED deterministically
  // (the k lowest parcel ids — Brandes & Pich 2007's fixed-pivot
  // variant): exact Brandes is all-sources O(N·E), the k-pivot form is
  // the documented estimator at scale, and a fixed lowest-id set makes
  // both engines sweep identical pivots with no RNG.
  //
  // Determinism: σ is an exact integer (sum of predecessor σ over the
  // tight adjacency entries, one term per entry). The dependency
  // ratio σ_v/σ_w is NOT an integer, so δ rides 1e-12 FIXED POINT with
  // per-term floor division: term = (σ_v·(10¹² + δ_fp(w))) div σ_w —
  // the product in BigInt/HUGEINT (σ·δ_fp passes int64), the
  // floor div exact on non-negative operands in both engines, and the
  // per-(s,v) SUM of integer terms order-free, so no accumulation
  // order can flip a digit anywhere. Truncation bias is ≤ 1e-12 per
  // term, identical in both engines by construction. Star/path/diamond
  // plants are exact closed forms (σ = 1 ⇒ no truncation; the diamond
  // pins the σ = 2 half-dependency).
  //
  // Scale shape: one capped collect of the NP²-bounded pair relation;
  // per source one BFS forward sweep and one backward δ sweep on the
  // driver (GraphLoops.betweenness — the shared shortest-path kernel at
  // unit lengths, O(|sources|·E log NP)); the NP-row Σδ leaves as one
  // LocalRelation and the display rounding is Catalyst over it. The
  // oracle unrolls connNP forward and backward steps — rounds past the
  // last populated depth are no-ops (empty joins / zero increments).

  private val bcSources = 8

  /** Per-parcel sampled-source Brandes betweenness from a q168-shaped
    * (p1, p2, …, edge) relation → (p, bc). */
  private[graft] def betweennessCore(pairs0: DataFrame,
      nSources: Int): DataFrame =
    betweennessOn(pairs0.select("p1", "p2", "edge"), nSources,
      "DesignImage.betweennessCore")
      .selectExpr("p", "round(CAST(t AS DOUBLE) / 1e12, 6) AS bc")

  /** (p, t = Σ_{s ≠ p} δ_s(p) in 10⁻¹² fixed point) over the first
    * `nSources` parcels, pinned from an edge or length relation. */
  private def betweennessOn(pairs: DataFrame, nSources: Int,
      site: String): DataFrame = {
    val g = GraphLoops.pin(pairs, site)
    val t = GraphLoops.betweenness(g, nSources, site)
    g.relation(Seq(StructField("t", LongType, nullable = false)))(i => Seq(t(i)))
  }

  def betweenness(s: SparkSession, d: String): DataFrame =
    betweennessCore(connectomePairs(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$lpaEdgeStr AS edge"), bcSources)

  private def betweennessSql: String = {
    val fwd = (1 to connNP).map { i =>
      s"""bfr$i AS MATERIALIZED (
         |  SELECT f.s, e.q AS v, CAST($i AS BIGINT) AS d,
         |    CAST(SUM(f.sigma) AS BIGINT) AS sigma
         |  FROM bfr${i - 1} f
         |  JOIN msym e ON e.p = f.v
         |  LEFT JOIN bs${i - 1} seen ON seen.s = f.s AND seen.v = e.q
         |  WHERE seen.v IS NULL
         |  GROUP BY 1, 2
         |),
         |bs$i AS MATERIALIZED (
         |  SELECT s, v, d, sigma FROM bs${i - 1}
         |  UNION ALL SELECT s, v, d, sigma FROM bfr$i
         |)""".stripMargin
    }.mkString(",\n")
    val bwd = (1 to connNP).map { k =>
      val dd = connNP - k + 1 // depths connNP .. 1
      s"""bdc$k AS (
         |  SELECT w.s, pv.v,
         |    CAST(SUM((CAST(pv.sigma AS HUGEINT) * (1000000000000 + del.delta)) // w.sigma) AS BIGINT) AS inc
         |  FROM bs$connNP w
         |  JOIN bdel${k - 1} del ON del.s = w.s AND del.v = w.v
         |  JOIN msym e ON e.q = w.v
         |  JOIN bs$connNP pv ON pv.s = w.s AND pv.v = e.p AND pv.d = w.d - 1
         |  WHERE w.d = $dd
         |  GROUP BY 1, 2
         |),
         |bdel$k AS MATERIALIZED (
         |  SELECT d.s, d.v, d.delta + COALESCE(c.inc, 0) AS delta
         |  FROM bdel${k - 1} d LEFT JOIN bdc$k c ON c.s = d.s AND c.v = d.v
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |mparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |mones AS (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |msym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |bsrc AS MATERIALIZED (
       |  SELECT p AS s FROM mparcels ORDER BY p LIMIT $bcSources),
       |bfr0 AS MATERIALIZED (
       |  SELECT s, s AS v, CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sigma
       |  FROM bsrc),
       |bs0 AS MATERIALIZED (SELECT s, v, d, sigma FROM bfr0),
       |$fwd,
       |bdel0 AS MATERIALIZED (
       |  SELECT s, v, CAST(0 AS BIGINT) AS delta FROM bs$connNP),
       |$bwd,
       |bsum AS (
       |  SELECT v AS p, CAST(SUM(delta) AS BIGINT) AS t
       |  FROM bdel$connNP WHERE v <> s GROUP BY 1
       |)
       |SELECT mparcels.p,
       |  round(CAST(COALESCE(bsum.t, 0) AS DOUBLE) / 1e12, 6) AS bc
       |FROM mparcels LEFT JOIN bsum ON bsum.p = mparcels.p
       |ORDER BY mparcels.p""".stripMargin
  }

  // ---- q226-q228: WEIGHTED-graph variants -----------------------------------
  // The q212/q213/q214 sweep runs on the binarized r ≥ threshold graph;
  // the cited literature's standard companions keep the weights
  // (Rubinov & Sporns 2010 §"measures for weighted networks"): weighted
  // modularity (Newman 2004), weighted rich club (van den Heuvel &
  // Sporns 2011 §weighted φw), and strength assortativity (Newman 2002
  // with strength in place of degree). All three run on the POSITIVE
  // r ≥ 0.2 graph (the q208/q212 convention — weighted modularity
  // treats negative ties separately) with INTEGER FIXED-POINT weights
  // w = round(r_par·1e6): r_par is already rounded to 6 dp, so w is an
  // exact int64 in both engines and every weight sum is exact. Cross
  // products ride DECIMAL(38,0)/HUGEINT (the q214 discipline — 4·W²
  // reaches ~10²⁴ at atlas NP ≈ 10³, past int64); the BIGINT exports
  // (w_in/s_tot ≤ 2W ≤ 10¹²) hold through atlas scale, and widen to
  // DECIMAL with the same internal arithmetic beyond it.
  //
  // Scale shape: identical to the binarized versions — NP²-bounded edge
  // relations, NP-bounded module/degree/strength aggregates, broadcast
  // joins, one global-window rank over the NP²-bounded edge list (q227).

  private val wPosStr =
    "CASE WHEN r_par IS NOT NULL AND r_par >= CAST(0.2 AS DOUBLE) " +
      "THEN CAST(round(r_par * 1e6, 0) AS BIGINT) ELSE CAST(0 AS BIGINT) END"

  /** Weighted modularity core from a (p1, p2, w) relation (w = 0 ⇒ no
    * edge) and (p, m) modules: Qw = Σ_m [w_mm/W − (s_m/2W)²] via the
    * exact numerator qn = 4·W·w_mm − s_m² in DECIMAL(38,0) →
    * (module, n_nodes, w_in, s_tot, q_contrib, q). */
  private[graft] def modularityWeightedCore(wpairs: DataFrame,
      modules: DataFrame): DataFrame = {
    // every relation below is atlas-bounded (NP / NP² / modules rows):
    // pin the multi-consumer ones instead of localCheckpoint (r21) — a
    // checkpointed LocalRelation-derived module relation re-materialized
    // through a 32-task job and every downstream leaf scanned 32-wide on
    // the main session, where a pin is one single-partition collect and
    // zero-job broadcasts; the Q tail pins too, so the whole post-moment
    // fold is two collect jobs.
    val ones = wpairs.filter(col("w") > 0).select("p1", "p2", "w")
    val mods = graft.util.Loops.pin(modules) // NP-bounded; 3 consumers
    val ml = graft.util.Loops.pin(ones
      .join(broadcast(mods.selectExpr("p AS p1", "m AS m1")), Seq("p1"))
      .join(broadcast(mods.selectExpr("p AS p2", "m AS m2")), Seq("p2")))
    // edge-bounded (≤ NP²); 3 consumers (W, w_in, strengths)
    val wt = ml.agg(coalesce(sum("w"), lit(0L)).as("w_tot"))
    val win = ml.filter(col("m1") === col("m2"))
      .groupBy(col("m1").as("module")).agg(sum("w").as("w_in"))
    val sm = ml.selectExpr("m1 AS module", "w")
      .unionByName(ml.selectExpr("m2 AS module", "w"))
      .groupBy("module").agg(sum("w").as("s_tot"))
    val per = mods.groupBy(col("m").as("module")).agg(count(lit(1)).as("n_nodes"))
      .join(win, Seq("module"), "left")
      .join(sm, Seq("module"), "left")
      .na.fill(0L, Seq("w_in", "s_tot"))
      .crossJoin(broadcast(wt))
      .selectExpr("module", "n_nodes", "w_in", "s_tot", "w_tot",
        "4 * CAST(w_tot AS DECIMAL(38,0)) * w_in - CAST(s_tot AS DECIMAL(38,0)) * s_tot AS qn")
    graft.util.Loops.pin(per
      .crossJoin(broadcast(per.agg(sum("qn").as("qsum"))))
      .selectExpr("module", "n_nodes", "w_in", "s_tot",
        "CASE WHEN w_tot > 0 THEN round(CAST(qn AS DOUBLE) / CAST(4 * CAST(w_tot AS DECIMAL(38,0)) * w_tot AS DOUBLE), 6) END AS q_contrib",
        "CASE WHEN w_tot > 0 THEN round(CAST(qsum AS DOUBLE) / CAST(4 * CAST(w_tot AS DECIMAL(38,0)) * w_tot AS DOUBLE), 6) END AS q")
      .orderBy("module"))
  }

  def modularityWeighted(s: SparkSession, d: String): DataFrame = {
    val base = connectomeCore(centsSeries(s, d))
      .localCheckpoint() // NP²-bounded; edge + weight consumers
    modularityWeightedCore(
      base.selectExpr("p1", "p2", s"$wPosStr AS w"),
      lpaModules(base.selectExpr("p1", "p2", s"$lpaEdgeStr AS edge"), maxRounds = connNP))
  }

  private def modularityWeightedSql: String =
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |mparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |mones AS MATERIALIZED (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |msym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |${lpaCtes(connNP)},
       |wpe AS MATERIALIZED (
       |  SELECT p1, p2, $wPosStr AS w FROM pairs
       |  WHERE $wPosStr > 0
       |),
       |wml AS MATERIALIZED (
       |  SELECT a.m AS m1, b.m AS m2, wpe.w
       |  FROM wpe JOIN mmod a ON a.p = wpe.p1 JOIN mmod b ON b.p = wpe.p2
       |),
       |wW AS (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) AS w_tot FROM wml),
       |win AS (
       |  SELECT m1 AS module, CAST(SUM(w) AS BIGINT) AS w_in
       |  FROM wml WHERE m1 = m2 GROUP BY 1
       |),
       |sm AS (
       |  SELECT m AS module, CAST(SUM(w) AS BIGINT) AS s_tot FROM (
       |    SELECT m1 AS m, w FROM wml UNION ALL SELECT m2 AS m, w FROM wml
       |  ) GROUP BY 1
       |),
       |wnn AS (
       |  SELECT m AS module, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM mmod GROUP BY 1
       |),
       |wper AS MATERIALIZED (
       |  SELECT wnn.module, wnn.n_nodes, COALESCE(win.w_in, 0) AS w_in,
       |    COALESCE(sm.s_tot, 0) AS s_tot, wW.w_tot,
       |    4 * CAST(wW.w_tot AS HUGEINT) * COALESCE(win.w_in, 0)
       |      - CAST(COALESCE(sm.s_tot, 0) AS HUGEINT) * COALESCE(sm.s_tot, 0) AS qn
       |  FROM wnn
       |  LEFT JOIN win ON win.module = wnn.module
       |  LEFT JOIN sm ON sm.module = wnn.module
       |  CROSS JOIN wW
       |),
       |wqt AS (SELECT SUM(qn) AS qsum FROM wper)
       |SELECT module, n_nodes, w_in, s_tot,
       |  CASE WHEN w_tot > 0 THEN round(CAST(qn AS DOUBLE) / CAST(4 * CAST(w_tot AS HUGEINT) * w_tot AS DOUBLE), 6) END AS q_contrib,
       |  CASE WHEN w_tot > 0 THEN round(CAST(qsum AS DOUBLE) / CAST(4 * CAST(w_tot AS HUGEINT) * w_tot AS DOUBLE), 6) END AS q
       |FROM wper CROSS JOIN wqt
       |ORDER BY module""".stripMargin

  // ---- q230: weighted one-level Louvain --------------------------------------
  // q225's detector upgraded to the weighted gain (Blondel et al. 2008
  // eq. 2 with weights): argmax_c [ 2W·w_{i,c} − s_i·Σtot̃_w(c) ] where
  // w_{i,c} is the weight from i into c, s_i the strength, Σtot̃_w the
  // community strength total excluding i. Same parity-gated synchronous
  // sweeps, same (gain DESC, c ASC) total order — but the gain products
  // pass int64 (2W·w_ic ≈ 5·10²⁰ at atlas NP), so they ride BigInt on
  // the driver and HUGEINT in the oracle (the q226 discipline). It is
  // THE Louvain detector: q225 is its w = edge case (louvainModules).
  // Output = q226's weighted modularity relation over the detected
  // partition, so q226 (LPA partition) and q230 (weighted-Louvain
  // partition) differ in exactly one input.

  def modularityWeightedLouvain(s: SparkSession, d: String): DataFrame = {
    val wp = connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$wPosStr AS w")
      .localCheckpoint() // NP²-bounded; detector + modularity consumers
    modularityWeightedCore(wp, louvainModules(wp))
  }

  /** The generated weighted-Louvain round CTEs over wparcels/wsym,
    * ending in `lwmod(p, m)`. */
  private def louvainWeightedCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      val parity = (i - 1) % 2
      s"""lwst$i AS (
         |  SELECT l.c, CAST(SUM(d.s) AS BIGINT) AS cs
         |  FROM lw${i - 1} l JOIN lwstr d ON d.p = l.p GROUP BY 1
         |),
         |lwic$i AS (
         |  SELECT s.p, l.c, CAST(SUM(s.w) AS BIGINT) AS win
         |  FROM wsym s JOIN lw${i - 1} l ON l.p = s.q GROUP BY 1, 2
         |),
         |lwcand$i AS (
         |  SELECT p, c, MAX(win) AS win FROM (
         |    SELECT p, c, win FROM lwic$i
         |    UNION ALL SELECT p, c, CAST(0 AS BIGINT) FROM lw${i - 1}
         |  ) GROUP BY p, c
         |),
         |lwg$i AS (
         |  SELECT cand.p, cand.c, cur.c AS cur,
         |    CAST(lwW.w2 AS HUGEINT) * cand.win
         |      - CAST(d.s AS HUGEINT) * (st.cs - CASE WHEN cand.c = cur.c THEN d.s ELSE 0 END) AS g
         |  FROM lwcand$i cand
         |  JOIN lwst$i st ON st.c = cand.c
         |  JOIN lwstr d ON d.p = cand.p
         |  JOIN lw${i - 1} cur ON cur.p = cand.p
         |  CROSS JOIN lwW
         |),
         |lw$i AS MATERIALIZED (
         |  SELECT p, CASE WHEN p % 2 = $parity THEN c ELSE cur END AS c FROM (
         |    SELECT p, c, cur,
         |      ROW_NUMBER() OVER (PARTITION BY p ORDER BY g DESC, c ASC) AS rn
         |    FROM lwg$i) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""lw0 AS MATERIALIZED (SELECT p, p AS c FROM wparcels),
       |lwstr AS MATERIALIZED (
       |  SELECT wparcels.p, CAST(COALESCE(d.sw, 0) AS BIGINT) AS s
       |  FROM wparcels LEFT JOIN (
       |    SELECT p, SUM(w) AS sw FROM wsym GROUP BY p) d ON d.p = wparcels.p
       |),
       |lwW AS (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) AS w2 FROM wsym),
       |$roundCtes,
       |lwmod AS MATERIALIZED (SELECT p, CAST(c AS INTEGER) AS m FROM lw$rounds)""".stripMargin
  }

  private def modularityWeightedLouvainSql: String =
    s"""WITH $connectomeCtes,
       |wpe AS MATERIALIZED (
       |  SELECT p1, p2, $wPosStr AS w FROM pairs
       |  WHERE $wPosStr > 0
       |),
       |wparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs)),
       |wsym AS MATERIALIZED (SELECT p, q, w FROM (
       |  SELECT p1 AS p, p2 AS q, w FROM wpe
       |  UNION ALL SELECT p2 AS p, p1 AS q, w FROM wpe)),
       |${louvainWeightedCtes(louvainRounds)},
       |wml AS MATERIALIZED (
       |  SELECT a.m AS m1, b.m AS m2, wpe.w
       |  FROM wpe JOIN lwmod a ON a.p = wpe.p1 JOIN lwmod b ON b.p = wpe.p2
       |),
       |wW AS (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) AS w_tot FROM wml),
       |win AS (
       |  SELECT m1 AS module, CAST(SUM(w) AS BIGINT) AS w_in
       |  FROM wml WHERE m1 = m2 GROUP BY 1
       |),
       |sm AS (
       |  SELECT m AS module, CAST(SUM(w) AS BIGINT) AS s_tot FROM (
       |    SELECT m1 AS m, w FROM wml UNION ALL SELECT m2 AS m, w FROM wml
       |  ) GROUP BY 1
       |),
       |wnn AS (
       |  SELECT m AS module, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM lwmod GROUP BY 1
       |),
       |wper AS MATERIALIZED (
       |  SELECT wnn.module, wnn.n_nodes, COALESCE(win.w_in, 0) AS w_in,
       |    COALESCE(sm.s_tot, 0) AS s_tot, wW.w_tot,
       |    4 * CAST(wW.w_tot AS HUGEINT) * COALESCE(win.w_in, 0)
       |      - CAST(COALESCE(sm.s_tot, 0) AS HUGEINT) * COALESCE(sm.s_tot, 0) AS qn
       |  FROM wnn
       |  LEFT JOIN win ON win.module = wnn.module
       |  LEFT JOIN sm ON sm.module = wnn.module
       |  CROSS JOIN wW
       |),
       |wqt AS (SELECT SUM(qn) AS qsum FROM wper)
       |SELECT module, n_nodes, w_in, s_tot,
       |  CASE WHEN w_tot > 0 THEN round(CAST(qn AS DOUBLE) / CAST(4 * CAST(w_tot AS HUGEINT) * w_tot AS DOUBLE), 6) END AS q_contrib,
       |  CASE WHEN w_tot > 0 THEN round(CAST(qsum AS DOUBLE) / CAST(4 * CAST(w_tot AS HUGEINT) * w_tot AS DOUBLE), 6) END AS q
       |FROM wper CROSS JOIN wqt
       |ORDER BY module""".stripMargin

  /** Weighted rich-club core from a (p1, p2, w) relation: per degree
    * level k, φw(k) = W_{>k} / Σ(top-E_{>k} ranked weights) — the van
    * den Heuvel & Sporns 2011 weighted form. The denominator's ranked
    * cumulative sum is tie-order-INVARIANT (equal weights straddling
    * the cut contribute the same sum whichever is counted), so the
    * row_number tie-break on (p1, p2) cannot move the output. */
  private[graft] def richClubWeightedCore(wpairs: DataFrame): DataFrame = {
    val ones = wpairs.filter(col("w") > 0).select("p1", "p2", "w")
      .localCheckpoint() // NP²-bounded; degree fold + level join + rank
    val deg = ones.select(col("p1").as("p"))
      .union(ones.select(col("p2").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // NP-bounded; 3 consumers
    val ks = deg.agg(max("deg").as("kmax"))
      .selectExpr("explode(CASE WHEN kmax >= 2 " +
        "THEN sequence(CAST(1 AS BIGINT), kmax - 1) ELSE array() END) AS k")
      .localCheckpoint() // ≤ NP rows; 2 consumers
    val nk = broadcast(ks).join(deg, col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_k"))
    val ed = ones
      .join(broadcast(deg.selectExpr("p AS p1", "deg AS d1")), Seq("p1"))
      .join(broadcast(deg.selectExpr("p AS p2", "deg AS d2")), Seq("p2"))
      .selectExpr("least(d1, d2) AS dmin", "w")
    val ek = broadcast(ks).join(ed, col("dmin") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("e_k"), sum("w").as("w_k"))
    val w = graft.util.Windows.boundedGlobalWindow(
      "NP²-bounded undirected edge list", col("w").desc, col("p1"), col("p2"))
    val cum = ones
      .withColumn("rk", row_number().over(w))
      .withColumn("cw", sum("w").over(
        graft.util.Windows.boundedGlobalWindow(
          "NP²-bounded undirected edge list", col("rk"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select("rk", "cw")
    ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .na.fill(0L, Seq("n_k", "e_k", "w_k"))
      .join(cum.selectExpr("rk AS e_k", "cw"), Seq("e_k"), "left")
      .selectExpr("k", "n_k", "e_k", "w_k",
        "CASE WHEN e_k > 0 THEN round(CAST(w_k AS DOUBLE) / cw, 6) END AS phi_w")
      .orderBy("k")
  }

  def richClubWeighted(s: SparkSession, d: String): DataFrame =
    richClubWeightedCore(connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$wPosStr AS w"))

  private def richClubWeightedSql: String =
    s"""WITH $connectomeCtes,
       |wrc AS MATERIALIZED (
       |  SELECT p1, p2, $wPosStr AS w FROM pairs WHERE $wPosStr > 0
       |),
       |wrcdeg AS MATERIALIZED (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM wrc UNION ALL SELECT p2 AS p FROM wrc
       |  ) GROUP BY p
       |),
       |wrck AS MATERIALIZED (
       |  SELECT CAST(unnest(generate_series(1,
       |    (SELECT CAST(MAX(deg) AS BIGINT) FROM wrcdeg) - 1)) AS BIGINT) AS k
       |),
       |wrcnk AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_k
       |  FROM wrck JOIN wrcdeg ON wrcdeg.deg > wrck.k GROUP BY k
       |),
       |wrced AS MATERIALIZED (
       |  SELECT least(d1.deg, d2.deg) AS dmin, wrc.w
       |  FROM wrc
       |  JOIN wrcdeg d1 ON d1.p = wrc.p1
       |  JOIN wrcdeg d2 ON d2.p = wrc.p2
       |),
       |wrcek AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS e_k, CAST(SUM(w) AS BIGINT) AS w_k
       |  FROM wrck JOIN wrced ON wrced.dmin > wrck.k GROUP BY k
       |),
       |wrccum AS MATERIALIZED (
       |  SELECT rk, CAST(SUM(w) OVER (ORDER BY rk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
       |  FROM (
       |    SELECT w, ROW_NUMBER() OVER (ORDER BY w DESC, p1, p2) AS rk FROM wrc
       |  )
       |)
       |SELECT wrck.k, COALESCE(wrcnk.n_k, 0) AS n_k,
       |  COALESCE(wrcek.e_k, 0) AS e_k, COALESCE(wrcek.w_k, 0) AS w_k,
       |  CASE WHEN COALESCE(wrcek.e_k, 0) > 0
       |    THEN round(CAST(wrcek.w_k AS DOUBLE) / wrccum.cw, 6) END AS phi_w
       |FROM wrck
       |LEFT JOIN wrcnk ON wrcnk.k = wrck.k
       |LEFT JOIN wrcek ON wrcek.k = wrck.k
       |LEFT JOIN wrccum ON wrccum.rk = COALESCE(wrcek.e_k, 0)
       |ORDER BY wrck.k""".stripMargin

  /** Strength-assortativity core: q214's Pearson with node STRENGTH
    * (s_i = Σ incident w) in place of degree, over the directed
    * symmetrization; exact DECIMAL(38,0) cross products. BIGINT sum
    * exports hold to atlas NP (s_jk ≤ 2M·s² — widen to DECIMAL beyond). */
  private[graft] def assortativityWeightedCore(wpairs: DataFrame): DataFrame = {
    val ones = wpairs.filter(col("w") > 0).select("p1", "p2", "w")
      .localCheckpoint() // NP²-bounded; strength fold + pair join
    val str = ones.selectExpr("p1 AS p", "w")
      .union(ones.selectExpr("p2 AS p", "w"))
      .groupBy("p").agg(sum("w").as("s"))
    val dir = ones.selectExpr("p1 AS a", "p2 AS b")
      .union(ones.selectExpr("p2 AS a", "p1 AS b"))
    dir
      .join(broadcast(str.selectExpr("p AS a", "s AS sj")), Seq("a"))
      .join(broadcast(str.selectExpr("p AS b", "s AS sk")), Seq("b"))
      .agg(count(lit(1)).as("m2"),
        sum("sj").as("sjs"),
        sum(expr("CAST(sj AS DECIMAL(38,0)) * sk")).as("sjk"),
        sum(expr("CAST(sj AS DECIMAL(38,0)) * sj")).as("sjj"))
      .selectExpr(
        "CAST(m2 AS BIGINT) AS m2",
        "CAST(COALESCE(sjs, 0) AS BIGINT) AS s_j",
        "CAST(COALESCE(sjk, 0) AS BIGINT) AS s_jk",
        "CAST(COALESCE(sjj, 0) AS BIGINT) AS s_jj")
      .selectExpr("m2", "s_j", "s_jk", "s_jj",
        "CAST(m2 AS DECIMAL(38,0)) * s_jk - CAST(s_j AS DECIMAL(38,0)) * s_j AS num",
        "CAST(m2 AS DECIMAL(38,0)) * s_jj - CAST(s_j AS DECIMAL(38,0)) * s_j AS den")
      .selectExpr("m2", "s_j", "s_jk", "s_jj",
        "CASE WHEN den > 0 THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS r_assort")
      .orderBy("m2")
  }

  def assortativityWeighted(s: SparkSession, d: String): DataFrame =
    assortativityWeightedCore(connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$wPosStr AS w"))

  private def assortativityWeightedSql: String =
    s"""WITH $connectomeCtes,
       |was AS MATERIALIZED (
       |  SELECT p1, p2, $wPosStr AS w FROM pairs WHERE $wPosStr > 0
       |),
       |wstr AS MATERIALIZED (
       |  SELECT p, CAST(SUM(w) AS BIGINT) AS s FROM (
       |    SELECT p1 AS p, w FROM was UNION ALL SELECT p2 AS p, w FROM was
       |  ) GROUP BY p
       |),
       |wdir AS (SELECT a, b FROM (
       |  SELECT p1 AS a, p2 AS b FROM was
       |  UNION ALL SELECT p2 AS a, p1 AS b FROM was)),
       |wsum AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m2,
       |    CAST(COALESCE(SUM(s1.s), 0) AS BIGINT) AS s_j,
       |    CAST(COALESCE(SUM(CAST(s1.s AS HUGEINT) * s2.s), 0) AS BIGINT) AS s_jk,
       |    CAST(COALESCE(SUM(CAST(s1.s AS HUGEINT) * s1.s), 0) AS BIGINT) AS s_jj
       |  FROM wdir
       |  JOIN wstr s1 ON s1.p = wdir.a
       |  JOIN wstr s2 ON s2.p = wdir.b
       |)
       |SELECT m2, s_j, s_jk, s_jj,
       |  CASE WHEN CAST(m2 AS HUGEINT) * s_jj - CAST(s_j AS HUGEINT) * s_j > 0
       |    THEN round(CAST(CAST(m2 AS HUGEINT) * s_jk - CAST(s_j AS HUGEINT) * s_j AS DOUBLE)
       |      / CAST(CAST(m2 AS HUGEINT) * s_jj - CAST(s_j AS HUGEINT) * s_j AS DOUBLE), 6) END AS r_assort
       |FROM wsum
       |ORDER BY m2""".stripMargin

  // ---- q234: WEIGHTED path metrics (1/w connection lengths) -------------------
  // The integration half on the weighted graph (Rubinov & Sporns 2010
  // §"paths and distances": "connection lengths are the inverse of
  // connection weights"): per-hop length ℓ = round(1e12 / w) — an exact
  // int64 both engines since w is the 1e6-fixed-point r, so ℓ = 1e6/r
  // in 1e-6 "inverse-correlation" units — then q184's driver kernel over
  // integer lengths (Dijkstra per source, exact Long sums: d ≤ n·5·10⁶
  // ≈ 5·10⁹ at atlas scale). The oracle UNROLLS a min-plus doubling as
  // generated CTEs (the q65/q225 replay discipline — q184's recursive
  // BFS walk dedups on exact (a,b,d) tuples, which bounds state only
  // when d is the hop count; weighted sums would blow the walk up);
  // doubling and Dijkstra agree on every minimum exactly.
  //
  // Scale shape: q184's — one capped collect of the NP²-bounded length
  // relation, NP² (a, b, d) rows back as one LocalRelation. ℓ is pinned
  // as Catalyst computes it, so a weight above 2·10¹² (ℓ = 0) would
  // drop its edge; the connectome's w ≤ 10⁶.
  // Reciprocal terms quantize at round(1e18/d) ≤ 10¹² each; the Σ sat
  // exactly at the int64 edge at atlas NP, so the fold now runs
  // DECIMAL(38,0) on the Spark side (DuckDB's SUM(BIGINT) is already
  // HUGEINT) — the r18-flagged swap, landed before any NP increase.
  // Displays divide the 1e6 unit back out.

  /** Weighted path-metrics core from a (p1, p2, w) relation. */
  private[graft] def pathMetricsWeightedCore(wpairs: DataFrame): DataFrame = {
    val site = "DesignImage.pathMetricsWeightedCore"
    val g = GraphLoops.pin(wpairs.selectExpr("p1", "p2", connLengthStr), site)
    val dist = GraphLoops.distances(g, site)
    val parcels = g.relation(Nil)(_ => Nil)
    // Reciprocal terms are ≤ 10¹² each (d ≥ 10⁶ for any 1-hop path);
    // at atlas NP² pairs the SUM sits exactly at the int64 edge, so the
    // fold runs in DECIMAL(38,0) (the q230 gain discipline) — each TERM
    // is still an exactly-rounded int64, only the accumulator widens.
    // DuckDB's SUM(BIGINT) is already HUGEINT, so the oracle was never
    // at risk; this closes the r18-flagged Spark edge before any NP
    // increase.
    val glob = dist
      .agg(sum("d").as("sd"), count(lit(1)).as("n_fin"),
        sum(expr("CAST(CAST(round(1e18 / d, 0) AS BIGINT) AS DECIMAL(38,0))")).as("sr"))
      .crossJoin(parcels.agg(count(lit(1)).as("np")))
    val perP = dist.groupBy(col("a").as("p"))
      .agg(max("d").as("ecc_l"), count(lit(1)).as("n_reach"),
        sum(expr("CAST(CAST(round(1e18 / d, 0) AS BIGINT) AS DECIMAL(38,0))")).as("srp"))
    parcels
      .join(broadcast(perP), Seq("p"), "left")
      .crossJoin(broadcast(glob))
      .selectExpr("p",
        "round(CAST(ecc_l AS DOUBLE) / 1e6, 6) AS ecc_w",
        "COALESCE(n_reach, 0L) AS n_reach",
        "round(CAST(COALESCE(srp, 0L) AS DOUBLE) / (np - 1) / 1e12, 6) AS eff_p",
        "CASE WHEN n_fin > 0 THEN round(CAST(sd AS DOUBLE) / n_fin / 1e6, 6) END AS cpl_w",
        "round(CAST(sr AS DOUBLE) / (CAST(np AS DOUBLE) * (np - 1)) / 1e12, 6) AS eff_glob")
      .orderBy("p")
  }

  def pathMetricsWeighted(s: SparkSession, d: String): DataFrame =
    pathMetricsWeightedCore(connectomePairs(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$wPosStr AS w"))

  /** The q234/q247 connection length ℓ = round(1e12 / w) as the pinned
    * `w` column (w ≤ 0 ⇒ no edge). */
  private val connLengthStr =
    "CASE WHEN w > 0 THEN CAST(round(1e12 / w, 0) AS BIGINT) END AS w"

  private def pathMetricsWeightedSql: String = {
    val rounds = math.max(1,
      math.ceil(math.log(connNP.toDouble) / math.log(2.0)).toInt)
    val roundCtes = (1 to rounds).map { i =>
      s"""wdist$i AS MATERIALIZED (
         |  SELECT a, b, MIN(d) AS d FROM (
         |    SELECT a, b, d FROM wdist${i - 1}
         |    UNION ALL
         |    SELECT x.a, y.b, x.d + y.d
         |    FROM wdist${i - 1} x JOIN wdist${i - 1} y ON y.a = x.b
         |  ) WHERE a <> b GROUP BY a, b
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $connectomeCtes,
       |wpm AS MATERIALIZED (
       |  SELECT p1, p2, CAST(round(1e12 / ($wPosStr), 0) AS BIGINT) AS l
       |  FROM pairs WHERE $wPosStr > 0
       |),
       |wpmpar AS (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs)),
       |wdist0 AS MATERIALIZED (SELECT a, b, CAST(l AS BIGINT) AS d FROM (
       |  SELECT p1 AS a, p2 AS b, l FROM wpm
       |  UNION ALL SELECT p2 AS a, p1 AS b, l FROM wpm)),
       |$roundCtes,
       |wgstat AS (
       |  SELECT CAST(SUM(d) AS BIGINT) AS sd, CAST(COUNT(*) AS BIGINT) AS n_fin,
       |    SUM(CAST(round(1e18 / d, 0) AS BIGINT)) AS sr,
       |    (SELECT COUNT(*) FROM wpmpar) AS np
       |  FROM wdist$rounds
       |),
       |wperp AS (
       |  SELECT a AS p, CAST(MAX(d) AS BIGINT) AS ecc_l,
       |    CAST(COUNT(*) AS BIGINT) AS n_reach,
       |    SUM(CAST(round(1e18 / d, 0) AS BIGINT)) AS srp
       |  FROM wdist$rounds GROUP BY a
       |)
       |SELECT wpmpar.p,
       |  round(CAST(wperp.ecc_l AS DOUBLE) / 1e6, 6) AS ecc_w,
       |  COALESCE(wperp.n_reach, 0) AS n_reach,
       |  round(CAST(COALESCE(wperp.srp, 0) AS DOUBLE) / (wgstat.np - 1) / 1e12, 6) AS eff_p,
       |  CASE WHEN wgstat.n_fin > 0
       |    THEN round(CAST(wgstat.sd AS DOUBLE) / wgstat.n_fin / 1e6, 6) END AS cpl_w,
       |  round(CAST(wgstat.sr AS DOUBLE) / (CAST(wgstat.np AS DOUBLE) * (wgstat.np - 1)) / 1e12, 6) AS eff_glob
       |FROM wpmpar LEFT JOIN wperp ON wperp.p = wpmpar.p CROSS JOIN wgstat
       |ORDER BY wpmpar.p""".stripMargin
  }

  // ---- q247: WEIGHTED betweenness (Brandes over 1/w connection lengths) ------
  // q240's centrality on the weighted graph (Rubinov & Sporns define
  // the weighted variant over 1/w connection lengths — the q234
  // integer lengths ℓ = round(1e12/w), exact int64 both engines).
  // Engine form: q240's driver kernel over those lengths — per source one
  // Dijkstra sweep (exact Long distances, σ over the tight entries
  // d(s,u) + ℓ(u,v) = d(s,v)), then q240's backward δ sweep
  //   δ(v) = Σ_{tight (v,w)} (σ_v·(10¹² + δ_fp(w))) div σ_w,
  // bc(v) = Σ_{s ≠ v} δ_s(v).
  // Oracle: three fixed-point stages unrolled connNP rounds each —
  // source-restricted Bellman–Ford distances, σ recomputed from σ(s) = 1
  // over the tight edges, δ recomputed over them; each reaches Brandes'
  // exact values once the rounds cover the shortest-path DAG's hop depth
  // (≤ NP−1), and later rounds recompute the same relation.
  //
  // Scale shape: q240's — one capped collect of the NP²-bounded length
  // relation, O(|sources|·E log NP) driver work, one NP-row
  // LocalRelation out.

  /** Weighted sampled-source Brandes from a (p1, p2, w) relation
    * (w = 0 ⇒ no edge) → (p, bc_w). */
  private[graft] def betweennessWeightedCore(wpairs: DataFrame,
      nSources: Int): DataFrame =
    betweennessOn(wpairs.selectExpr("p1", "p2", connLengthStr), nSources,
      "DesignImage.betweennessWeightedCore")
      .selectExpr("p", "round(CAST(t AS DOUBLE) / 1e12, 6) AS bc_w")

  def betweennessWeighted(s: SparkSession, d: String): DataFrame =
    betweennessWeightedCore(connectomePairs(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$wPosStr AS w"), bcSources)

  private def betweennessWeightedSql: String = {
    val relax = (1 to connNP).map { i =>
      s"""wbc$i AS (
         |  SELECT f.s, e.b AS v, MIN(f.d + e.l) AS d
         |  FROM wbf${i - 1} f JOIN wbsym e ON e.a = f.v
         |  GROUP BY 1, 2
         |),
         |wbf$i AS MATERIALIZED (
         |  SELECT c.s, c.v, c.d
         |  FROM wbc$i c LEFT JOIN wbd${i - 1} o ON o.s = c.s AND o.v = c.v
         |  WHERE o.v IS NULL OR c.d < o.d
         |),
         |wbd$i AS MATERIALIZED (
         |  SELECT s, v, MIN(d) AS d FROM (
         |    SELECT s, v, d FROM wbd${i - 1}
         |    UNION ALL SELECT s, v, d FROM wbf$i
         |  ) GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(",\n")
    val sig = (1 to connNP).map { i =>
      s"""wbs$i AS MATERIALIZED (
         |  SELECT s, v, CAST(SUM(sigma) AS BIGINT) AS sigma FROM (
         |    SELECT s, v, sigma FROM wbs0
         |    UNION ALL
         |    SELECT t.s, t.v, g.sigma
         |    FROM wbtight t JOIN wbs${i - 1} g ON g.s = t.s AND g.v = t.u
         |  ) GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(",\n")
    val del = (1 to connNP).map { i =>
      s"""wbi$i AS (
         |  SELECT t.s, t.u AS v,
         |    CAST(SUM((CAST(sv.sigma AS HUGEINT) * (1000000000000 + dl.delta)) // sw.sigma) AS BIGINT) AS inc
         |  FROM wbtight t
         |  JOIN wbs$connNP sv ON sv.s = t.s AND sv.v = t.u
         |  JOIN wbs$connNP sw ON sw.s = t.s AND sw.v = t.v
         |  JOIN wbl${i - 1} dl ON dl.s = t.s AND dl.v = t.v
         |  GROUP BY 1, 2
         |),
         |wbl$i AS MATERIALIZED (
         |  SELECT g.s, g.v, COALESCE(c.inc, 0) AS delta
         |  FROM wbgrid g LEFT JOIN wbi$i c ON c.s = g.s AND c.v = g.v
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $connectomeCtes,
       |wbpm AS MATERIALIZED (
       |  SELECT p1, p2, CAST(round(1e12 / ($wPosStr), 0) AS BIGINT) AS l
       |  FROM pairs WHERE $wPosStr > 0
       |),
       |wbpar AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs)),
       |wbsym AS MATERIALIZED (SELECT a, b, l FROM (
       |  SELECT p1 AS a, p2 AS b, l FROM wbpm
       |  UNION ALL SELECT p2 AS a, p1 AS b, l FROM wbpm)),
       |wbsrc AS MATERIALIZED (
       |  SELECT p AS s FROM wbpar ORDER BY p LIMIT $bcSources),
       |wbf0 AS MATERIALIZED (
       |  SELECT s, s AS v, CAST(0 AS BIGINT) AS d FROM wbsrc),
       |wbd0 AS MATERIALIZED (SELECT s, v, d FROM wbf0),
       |$relax,
       |wbdist AS MATERIALIZED (SELECT s, v, d FROM wbd$connNP),
       |wbtight AS MATERIALIZED (
       |  SELECT du.s, du.v AS u, dv.v
       |  FROM wbdist du
       |  JOIN wbsym e ON e.a = du.v
       |  JOIN wbdist dv ON dv.s = du.s AND dv.v = e.b
       |  WHERE du.d + e.l = dv.d
       |),
       |wbs0 AS MATERIALIZED (
       |  SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM wbsrc),
       |$sig,
       |wbgrid AS MATERIALIZED (SELECT s, v FROM wbdist),
       |wbl0 AS MATERIALIZED (
       |  SELECT s, v, CAST(0 AS BIGINT) AS delta FROM wbgrid),
       |$del,
       |wbsum AS (
       |  SELECT v AS p, CAST(SUM(delta) AS BIGINT) AS t
       |  FROM wbl$connNP WHERE v <> s GROUP BY 1
       |)
       |SELECT wbpar.p,
       |  round(CAST(COALESCE(wbsum.t, 0) AS DOUBLE) / 1e12, 6) AS bc_w
       |FROM wbpar LEFT JOIN wbsum ON wbsum.p = wbpar.p
       |ORDER BY wbpar.p""".stripMargin
  }

  // ---- q232: Barrat weighted clustering coefficient --------------------------
  // The weighted local-segregation companion (Barrat et al. 2004, PNAS
  // 101:3747 — the weighted clustering Rubinov & Sporns list beside
  // Onnela's): C_w(i) = 1/(s_i(k_i−1)) Σ_{(j,h) ordered} (w_ij+w_ih)/2
  // over triangles at i, which over UNORDERED neighbor pairs is exactly
  //   C_w(i) = Σ_{j<h, jh∈E} (w_ij + w_ih) / (s_i · (k_i − 1))
  // — pure rational arithmetic (numerator and denominator exact int64),
  // ONE correctly-rounded division per node, unlike Onnela's cube-root
  // form whose pow(x, 1/3) is not correctly rounded and could ULP-split
  // the engines. Reduces to the binary clustering coefficient on unit
  // weights (spec-pinned). k_i < 2 ⇒ NULL (no pairs to close).
  //
  // Scale shape: the neighbor-pair join is NP³-bounded worst case
  // (q184's class); degree/strength folds NP-bounded. Requires the
  // canonical p1 < p2 edge orientation every caller already has.

  private[graft] def weightedClusteringCore(wpairs: DataFrame): DataFrame = {
    val ones = wpairs.filter(col("w") > 0).select("p1", "p2", "w")
      .localCheckpoint() // NP²-bounded; sym + triangle closure
    val parcels = wpairs.select(col("p1").as("p"))
      .union(wpairs.select(col("p2").as("p"))).distinct()
    val sym = ones.selectExpr("p1 AS p", "p2 AS q", "w")
      .union(ones.selectExpr("p2 AS p", "p1 AS q", "w"))
      .localCheckpoint() // 2M rows; deg/strength + both pair sides
    val degStr = sym.groupBy("p").agg(count(lit(1)).as("k"), sum("w").as("s"))
    val tri = sym.selectExpr("p", "q AS j", "w AS wij")
      .join(sym.selectExpr("p", "q AS h", "w AS wih"), Seq("p"))
      .filter(col("j") < col("h"))
      .join(ones.selectExpr("p1 AS j", "p2 AS h"), Seq("j", "h"), "left_semi")
      .groupBy("p").agg(count(lit(1)).as("n_tri"),
        sum(expr("wij + wih")).as("nsum"))
    parcels
      .join(degStr, Seq("p"), "left").na.fill(0L, Seq("k", "s"))
      .join(tri, Seq("p"), "left").na.fill(0L, Seq("n_tri", "nsum"))
      .selectExpr("p", "k", "s", "n_tri",
        "CASE WHEN k >= 2 AND s > 0 THEN round(CAST(nsum AS DOUBLE) / CAST(s * (k - 1) AS BIGINT), 6) END AS cw")
      .orderBy("p")
  }

  def weightedClustering(s: SparkSession, d: String): DataFrame =
    weightedClusteringCore(connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$wPosStr AS w"))

  private def weightedClusteringSql: String =
    s"""WITH $connectomeCtes,
       |wcl AS MATERIALIZED (
       |  SELECT p1, p2, $wPosStr AS w FROM pairs WHERE $wPosStr > 0
       |),
       |wclpar AS (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs)),
       |wclsym AS MATERIALIZED (SELECT p, q, w FROM (
       |  SELECT p1 AS p, p2 AS q, w FROM wcl
       |  UNION ALL SELECT p2 AS p, p1 AS q, w FROM wcl)),
       |wcldeg AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS k, CAST(SUM(w) AS BIGINT) AS s
       |  FROM wclsym GROUP BY p
       |),
       |wcltri AS (
       |  SELECT a.p, CAST(count(*) AS BIGINT) AS n_tri,
       |    CAST(SUM(a.w + b.w) AS BIGINT) AS nsum
       |  FROM wclsym a
       |  JOIN wclsym b ON b.p = a.p AND a.q < b.q
       |  JOIN wcl e ON e.p1 = a.q AND e.p2 = b.q
       |  GROUP BY 1
       |)
       |SELECT wclpar.p, COALESCE(wcldeg.k, 0) AS k, COALESCE(wcldeg.s, 0) AS s,
       |  COALESCE(wcltri.n_tri, 0) AS n_tri,
       |  CASE WHEN COALESCE(wcldeg.k, 0) >= 2 AND COALESCE(wcldeg.s, 0) > 0
       |    THEN round(CAST(COALESCE(wcltri.nsum, 0) AS DOUBLE)
       |      / CAST(wcldeg.s * (wcldeg.k - 1) AS BIGINT), 6) END AS cw
       |FROM wclpar
       |LEFT JOIN wcldeg ON wcldeg.p = wclpar.p
       |LEFT JOIN wcltri ON wcltri.p = wclpar.p
       |ORDER BY wclpar.p""".stripMargin

  // ---- q213: rich-club coefficient -----------------------------------------
  // van den Heuvel & Sporns 2011 (J Neurosci 31:15775) / Colizza et al.
  // 2006: for every degree level k, phi(k) = 2·E_k / (N_k·(N_k − 1)) where
  // N_k counts nodes of degree > k and E_k the edges with BOTH endpoints
  // of degree > k; phi(k) → 1 at high k reads "rich club". Runs over the
  // q168 |r| ≥ 0.1 graph (the q173 convention — rich-club needs density,
  // not module structure). All counts exact integers; ONE correctly-
  // rounded double division per level (the q166 discipline); N_k < 2
  // leaves phi NULL. The k levels derive from the graph itself
  // (1 .. max-degree − 1) behind a kmax ≥ 2 guard — Spark's
  // sequence(lo, hi) DESCENDS when hi < lo (the knTriples trap), so an
  // edgeless graph yields array() and an empty sweep, matching DuckDB's
  // empty generate_series.
  //
  // Scale shape: degree fold NP-bounded, level relation ≤ NP rows, the
  // level×edge theta-join NP³-bounded worst case (q184's class) with the
  // level side broadcast; no window, no driver state.

  private[graft] def richClubCore(pairs0: DataFrame): DataFrame = {
    val ones = pairs0.filter(col("edge") === 1).select("p1", "p2")
      .localCheckpoint() // NP²-bounded; degree fold + level join
    val deg = ones.select(col("p1").as("p"))
      .union(ones.select(col("p2").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // NP-bounded; 3 consumers
    val ks = deg.agg(max("deg").as("kmax"))
      .selectExpr("explode(CASE WHEN kmax >= 2 " +
        "THEN sequence(CAST(1 AS BIGINT), kmax - 1) ELSE array() END) AS k")
      .localCheckpoint() // ≤ NP rows; 3 consumers
    val nk = broadcast(ks).join(deg, col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_k"))
    val ed = ones
      .join(broadcast(deg.selectExpr("p AS p1", "deg AS d1")), Seq("p1"))
      .join(broadcast(deg.selectExpr("p AS p2", "deg AS d2")), Seq("p2"))
      .selectExpr("least(d1, d2) AS dmin")
    val ek = broadcast(ks).join(ed, col("dmin") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("e_k"))
    ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .na.fill(0L, Seq("n_k", "e_k"))
      .selectExpr("k", "n_k", "e_k",
        "CASE WHEN n_k >= 2 THEN round(2.0 * e_k / (CAST(n_k AS DOUBLE) * (n_k - 1)), 6) END AS phi")
      .orderBy("k")
  }

  def richClub(s: SparkSession, d: String): DataFrame =
    richClubCore(connectomeCore(centsSeries(s, d)))

  private def richClubSql: String =
    s"""WITH $connectomeCtes,
       |rcones AS MATERIALIZED (SELECT p1, p2 FROM pe WHERE edge = 1),
       |rcdeg AS MATERIALIZED (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM rcones UNION ALL SELECT p2 AS p FROM rcones
       |  ) GROUP BY p
       |),
       |rck AS MATERIALIZED (
       |  SELECT CAST(unnest(generate_series(1,
       |    (SELECT CAST(MAX(deg) AS BIGINT) FROM rcdeg) - 1)) AS BIGINT) AS k
       |),
       |rcnk AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_k
       |  FROM rck JOIN rcdeg ON rcdeg.deg > rck.k GROUP BY k
       |),
       |rced AS MATERIALIZED (
       |  SELECT least(d1.deg, d2.deg) AS dmin
       |  FROM rcones
       |  JOIN rcdeg d1 ON d1.p = rcones.p1
       |  JOIN rcdeg d2 ON d2.p = rcones.p2
       |),
       |rcek AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS e_k
       |  FROM rck JOIN rced ON rced.dmin > rck.k GROUP BY k
       |)
       |SELECT rck.k, COALESCE(rcnk.n_k, 0) AS n_k, COALESCE(rcek.e_k, 0) AS e_k,
       |  CASE WHEN COALESCE(rcnk.n_k, 0) >= 2
       |    THEN round(2.0 * COALESCE(rcek.e_k, 0) / (CAST(rcnk.n_k AS DOUBLE) * (rcnk.n_k - 1)), 6) END AS phi
       |FROM rck
       |LEFT JOIN rcnk ON rcnk.k = rck.k
       |LEFT JOIN rcek ON rcek.k = rck.k
       |ORDER BY rck.k""".stripMargin

  // ---- q214: degree assortativity ------------------------------------------
  // Newman 2002 (PRL 89:208701) degree-correlation coefficient, the
  // mixing statistic of Rubinov & Sporns 2010 §"assortativity": Pearson r
  // of endpoint degrees over the DIRECTED symmetrization of the edge list
  // (each undirected edge contributes (j,k) AND (k,j) — the standard
  // convention). With Sj = Σdj, Sjk = Σdj·dk, Sjj = Σdj² over the 2M
  // directed pairs (Σdj = Σdk by symmetry),
  //   r = (2M·Sjk − Sj²) / (2M·Sjj − Sj²)
  // — numerator and denominator EXACT integers. The SUMS export as
  // BIGINT (< 2^53 at any plausible NP), but the final cross products
  // m2·Sjk and m2·Sjj reach ~4·10^18 ≈ 2^62 at atlas scale NP ≈ 10³ —
  // too close to int64 — so the ratio is formed in DECIMAL(38,0)
  // (HUGEINT in the oracle) and only the final division runs in DOUBLE
  // (correctly rounded, the q166 discipline). Cauchy–Schwarz makes the
  // denominator ≥ 0 with equality exactly on regular graphs → NULL.
  //
  // Engine form: q228's strength-assortativity core at w = edge — a
  // node's strength is then its degree, so every sum is the same integer.
  //
  // Scale shape: one NP-bounded degree fold, one NP²-bounded pair join
  // against the broadcast degrees, a single global aggregate row.

  def assortativity(s: SparkSession, d: String): DataFrame =
    assortativityWeightedCore(connectomeCore(centsSeries(s, d))
      .selectExpr("p1", "p2", "edge AS w"))

  private def assortativitySql: String =
    s"""WITH $connectomeCtes,
       |asones AS MATERIALIZED (SELECT p1, p2 FROM pe WHERE edge = 1),
       |asdeg AS MATERIALIZED (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM asones UNION ALL SELECT p2 AS p FROM asones
       |  ) GROUP BY p
       |),
       |asdir AS (SELECT a, b FROM (
       |  SELECT p1 AS a, p2 AS b FROM asones
       |  UNION ALL SELECT p2 AS a, p1 AS b FROM asones)),
       |assum AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m2,
       |    CAST(COALESCE(SUM(d1.deg), 0) AS BIGINT) AS s_j,
       |    CAST(COALESCE(SUM(CAST(d1.deg AS HUGEINT) * d2.deg), 0) AS BIGINT) AS s_jk,
       |    CAST(COALESCE(SUM(CAST(d1.deg AS HUGEINT) * d1.deg), 0) AS BIGINT) AS s_jj
       |  FROM asdir
       |  JOIN asdeg d1 ON d1.p = asdir.a
       |  JOIN asdeg d2 ON d2.p = asdir.b
       |)
       |SELECT m2, s_j, s_jk, s_jj,
       |  CASE WHEN CAST(m2 AS HUGEINT) * s_jj - CAST(s_j AS HUGEINT) * s_j > 0
       |    THEN round(CAST(CAST(m2 AS HUGEINT) * s_jk - CAST(s_j AS HUGEINT) * s_j AS DOUBLE)
       |      / CAST(CAST(m2 AS HUGEINT) * s_jj - CAST(s_j AS HUGEINT) * s_j AS DOUBLE), 6) END AS r_assort
       |FROM assum
       |ORDER BY m2""".stripMargin

  // ---- q218: targeted-attack robustness ------------------------------------
  // The attack-vs-failure analysis of Achard et al. 2006 (J Neurosci
  // 26:63, "resilience to targeted attack") at the node grain: remove
  // the k highest-degree hubs ('hub' — the targeted attack, ties by
  // lowest id) or the k lowest-degree nodes ('leaf' — the contrast
  // baseline; random failure needs an RNG the oracle can't share, and
  // low-degree removal bounds it from below), and report the surviving
  // graph's edge count, characteristic path length, and global
  // efficiency per (strategy, k). Hub curves cratering while leaf
  // curves hold is the small-world resilience signature. Distances run
  // on the driver: the surviving edges of all 2·(kmax+1) = 8 (strategy,
  // k) keys cross in ONE keyed pin (GraphLoops.pinKeyed), and per key the
  // shared shortest-path kernel at unit lengths (BFS, exact hop counts)
  // gives every (a, b, d) — q184's kernel, keyed. The efficiency tail is
  // q184's exact fixed-point convention (sr = Σ round(1e12/d) BIGINT,
  // ONE division per output).
  //
  // Scale shape: one NP window for the two degree rankings (NP rows —
  // broadcast-class), a |keys|·NP²-bounded keyed edge relation pinned
  // once, O(|keys|·NP·E) driver BFS work, and the |keys|·NP²-row distance
  // relation leaves as one LocalRelation. No data-sized work past the
  // q168 moments.

  private val attackKMax = 3L

  private[graft] def attackCore(pairs0: DataFrame): DataFrame = {
    val s = pairs0.sparkSession
    import s.implicits._
    val site = "DesignImage.attackCore"
    val pe = pairs0.select("p1", "p2", "edge").localCheckpoint()
    val parcels = graft.util.Loops.pin(
      pe.select(col("p1").as("p"))
        .union(pe.select(col("p2").as("p"))).distinct())
    // NP rows, driver-pinned; deg fill + count + np, zero scan jobs
    val ones = pe.filter(col("edge") === 1).select("p1", "p2")
    val deg = parcels.join(
        ones.select(col("p1").as("p")).union(ones.select(col("p2").as("p")))
          .groupBy("p").agg(count(lit(1)).as("deg")),
        Seq("p"), "left")
      .na.fill(0L, Seq("deg"))
    val ranked = deg
      .withColumn("rhub", row_number()
        .over(graft.util.Windows.boundedGlobalWindow(
          "NP-bounded degree table", col("deg").desc, col("p").asc)).cast("long"))
      .withColumn("rleaf", row_number()
        .over(graft.util.Windows.boundedGlobalWindow(
          "NP-bounded degree table", col("deg").asc, col("p").asc)).cast("long"))
      .localCheckpoint() // NP rows (the single-partition window is fine here)
    val ks = Seq("hub", "leaf")
      .flatMap(st => (0L to attackKMax).map(st -> _))
      .toDF("strategy", "k")
    val onesK = ones
      .join(broadcast(ranked.selectExpr("p AS p1", "rhub AS ra", "rleaf AS la")), Seq("p1"))
      .join(broadcast(ranked.selectExpr("p AS p2", "rhub AS rb", "rleaf AS lb")), Seq("p2"))
      .crossJoin(broadcast(ks))
      .filter(expr("CASE WHEN strategy = 'hub' THEN ra > k AND rb > k " +
        "ELSE la > k AND lb > k END"))
      .select("strategy", "k", "p1", "p2")
      .localCheckpoint() // |keys|·NP²-bounded; edge counts + keyed pin
    val ec = onesK.groupBy("strategy", "k").agg(count(lit(1)).as("n_edges"))
    val dist = GraphLoops.pinKeyed(onesK.withColumn("edge", lit(1)),
      Seq("strategy", "k"), site).distances(site)
    val st = dist.groupBy("strategy", "k").agg(sum("d").as("sd"),
      count(lit(1)).as("n_fin"),
      sum(expr("CAST(round(1e12 / d, 0) AS BIGINT)")).as("sr"))
    ks.crossJoin(broadcast(parcels.agg(count(lit(1)).as("np"))))
      .join(ec, Seq("strategy", "k"), "left")
      .join(st, Seq("strategy", "k"), "left")
      .na.fill(0L, Seq("n_edges", "sd", "n_fin", "sr"))
      .selectExpr("strategy", "k AS k_removed",
        "greatest(np - k, CAST(0 AS BIGINT)) AS n_nodes", "n_edges",
        "CASE WHEN n_fin > 0 THEN round(CAST(sd AS DOUBLE) / n_fin, 6) END AS cpl",
        "CASE WHEN np - k >= 2 THEN round(CAST(sr AS DOUBLE) / (CAST(np - k AS DOUBLE) * (np - k - 1)) / 1e12, 6) END AS eff_glob")
      .orderBy("strategy", "k_removed")
  }

  def attackRobustness(s: SparkSession, d: String): DataFrame =
    attackCore(connectomeCore(centsSeries(s, d)))

  private def attackSql: String =
    s"""WITH RECURSIVE $connectomeCtes,
       |atparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe UNION ALL SELECT p2 AS p FROM pe)),
       |atones AS MATERIALIZED (SELECT p1, p2 FROM pe WHERE edge = 1),
       |atdeg AS (
       |  SELECT atparcels.p, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg
       |  FROM atparcels LEFT JOIN (
       |    SELECT p, count(*) AS deg FROM (
       |      SELECT p1 AS p FROM atones UNION ALL SELECT p2 AS p FROM atones
       |    ) GROUP BY p) d ON d.p = atparcels.p
       |),
       |atrank AS MATERIALIZED (
       |  SELECT p, deg,
       |    CAST(ROW_NUMBER() OVER (ORDER BY deg DESC, p ASC) AS BIGINT) AS rhub,
       |    CAST(ROW_NUMBER() OVER (ORDER BY deg ASC, p ASC) AS BIGINT) AS rleaf
       |  FROM atdeg
       |),
       |atks AS MATERIALIZED (
       |  SELECT strategy, k FROM
       |    (SELECT unnest(['hub', 'leaf']) AS strategy)
       |    CROSS JOIN (SELECT CAST(unnest(generate_series(0, $attackKMax)) AS BIGINT) AS k)
       |),
       |atonesk AS MATERIALIZED (
       |  SELECT ks.strategy, ks.k, o.p1, o.p2
       |  FROM atones o
       |  JOIN atrank ra ON ra.p = o.p1
       |  JOIN atrank rb ON rb.p = o.p2
       |  CROSS JOIN atks ks
       |  WHERE CASE WHEN ks.strategy = 'hub'
       |    THEN ra.rhub > ks.k AND rb.rhub > ks.k
       |    ELSE ra.rleaf > ks.k AND rb.rleaf > ks.k END
       |),
       |atsyme AS MATERIALIZED (SELECT strategy, k, a, b FROM (
       |  SELECT strategy, k, p1 AS a, p2 AS b FROM atonesk
       |  UNION ALL SELECT strategy, k, p2 AS a, p1 AS b FROM atonesk)),
       |atwalk(strategy, k, a, b, d) AS (
       |  SELECT strategy, k, a, b, CAST(1 AS BIGINT) AS d FROM atsyme
       |  UNION
       |  SELECT w.strategy, w.k, w.a, s.b, w.d + 1
       |  FROM atwalk w JOIN atsyme s
       |    ON s.strategy = w.strategy AND s.k = w.k AND s.a = w.b
       |  WHERE w.d < $connNP AND s.b <> w.a
       |),
       |atdist AS (
       |  SELECT strategy, k, a, b, MIN(d) AS d FROM atwalk GROUP BY 1, 2, 3, 4
       |),
       |atec AS (
       |  SELECT strategy, k, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM atonesk GROUP BY 1, 2
       |),
       |atst AS (
       |  SELECT strategy, k, CAST(SUM(d) AS BIGINT) AS sd,
       |    CAST(count(*) AS BIGINT) AS n_fin,
       |    CAST(SUM(CAST(round(1e12 / d, 0) AS BIGINT)) AS BIGINT) AS sr
       |  FROM atdist GROUP BY 1, 2
       |),
       |atnp AS (SELECT CAST(count(*) AS BIGINT) AS np FROM atparcels)
       |SELECT ks.strategy, ks.k AS k_removed,
       |  greatest(atnp.np - ks.k, 0) AS n_nodes,
       |  COALESCE(atec.n_edges, 0) AS n_edges,
       |  CASE WHEN COALESCE(atst.n_fin, 0) > 0
       |    THEN round(CAST(atst.sd AS DOUBLE) / atst.n_fin, 6) END AS cpl,
       |  CASE WHEN atnp.np - ks.k >= 2
       |    THEN round(CAST(COALESCE(atst.sr, 0) AS DOUBLE) / (CAST(atnp.np - ks.k AS DOUBLE) * (atnp.np - ks.k - 1)) / 1e12, 6) END AS eff_glob
       |FROM atks ks CROSS JOIN atnp
       |LEFT JOIN atec ON atec.strategy = ks.strategy AND atec.k = ks.k
       |LEFT JOIN atst ON atst.strategy = ks.strategy AND atst.k = ks.k
       |ORDER BY ks.strategy, ks.k""".stripMargin

  // ---- q215: k-core decomposition (coreness via H-index iteration) --------
  // Hagmann et al. 2008 (PLoS Biol 6:e159, the "structural core" paper)
  // made k-core/coreness a connectome staple; the computation here is the
  // H-index fixed point of Lü et al. 2016 (Nat Commun 7:10168): c⁰(v) =
  // degree(v), c^{t+1}(v) = H{c^t(u) : u ~ v} — the largest h with at
  // least h neighbors valued ≥ h — which decreases monotonically to
  // coreness. The loop STOPS at the first unchanged round (the
  // sequence is non-increasing, so that is a fixed point and every
  // later round is idempotent — the q208 early-stop argument) with the
  // connNP node-count ceiling as the cap and the oracle's plain unroll
  // count; the spec pins rounds ≡ 2×rounds on the planted onion, a
  // diameter-11 path (the slowest eroder at this node count), and a
  // two-clique graph. The
  // H-index reads max(rn | value-desc row_number ≤ value) — ties among
  // equal values cannot move the max, so both engines agree exactly.
  // Runs over the POSITIVE r ≥ 0.2 graph (the q208/q212 convention —
  // core structure, like modules, is a positive-tie notion and the
  // |r| ≥ 0.1 graph is >50% dense at the fixture).
  //
  // Scale shape: the NP²-bounded edge relation is collected to the
  // driver ONCE (capped at PinMaxRows — an over-cap relation fails
  // loudly with the site's name); each H-index round then sorts every
  // node's neighbor values on the driver (GraphLoops.coreness), O(NP²
  // log NP) integer work with no job, and the (p, deg, coreness) result
  // leaves as one NP-row LocalRelation.

  private val corenessRounds = connNP

  private[graft] def corenessCore(pairs0: DataFrame,
      rounds: Int = corenessRounds): DataFrame = {
    val site = "DesignImage.corenessCore"
    val g = GraphLoops.pin(pairs0, site)
    val (deg, c) = GraphLoops.coreness(g, rounds, site)
    g.relation(Seq("deg", "coreness").map(StructField(_, LongType, false)))(
      i => Seq(deg(i), c(i)))
  }

  /** The q215 input graph (positive r ≥ 0.2 ties) — split out so the
    * spec can pin round-count convergence on the REAL fixture graph,
    * not just planted shapes. */
  private[graft] def corenessPairs(s: SparkSession, d: String): DataFrame =
    connectomePairs(centsSeries(s, d))
      .selectExpr("p1", "p2", s"$lpaEdgeStr AS edge")

  def coreness(s: SparkSession, d: String): DataFrame =
    corenessCore(corenessPairs(s, d))

  /** The generated H-index round CTEs: kc0 … kc{rounds} over
    * kparcels/ksym/kdeg, each round a node-partitioned window max. */
  private def corenessCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""kh$i AS (
         |  SELECT p, CAST(MAX(rn) AS BIGINT) AS h FROM (
         |    SELECT s.p, l.c, ROW_NUMBER() OVER (PARTITION BY s.p
         |      ORDER BY l.c DESC, s.q ASC) AS rn
         |    FROM ksym s JOIN kc${i - 1} l ON l.p = s.q
         |  ) WHERE c >= rn GROUP BY p
         |),
         |kc$i AS MATERIALIZED (
         |  SELECT kparcels.p, COALESCE(kh$i.h, 0) AS c
         |  FROM kparcels LEFT JOIN kh$i ON kh$i.p = kparcels.p
         |)""".stripMargin
    }.mkString(",\n")
    s"""kc0 AS MATERIALIZED (
       |  SELECT kparcels.p, COALESCE(kdeg.deg, 0) AS c
       |  FROM kparcels LEFT JOIN kdeg ON kdeg.p = kparcels.p
       |),
       |$roundCtes""".stripMargin
  }

  private def corenessSql: String =
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |kparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |kones AS MATERIALIZED (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |ksym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM kones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM kones)),
       |kdeg AS MATERIALIZED (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM ksym GROUP BY p
       |),
       |${corenessCtes(corenessRounds)}
       |SELECT kparcels.p, CAST(COALESCE(kdeg.deg, 0) AS BIGINT) AS deg,
       |  kcl.c AS coreness
       |FROM kparcels
       |LEFT JOIN kdeg ON kdeg.p = kparcels.p
       |JOIN kc$corenessRounds kcl ON kcl.p = kparcels.p
       |ORDER BY kparcels.p""".stripMargin

  // ---- q223: dynamic functional connectivity (sliding-window r) -----------
  // The dFC practice of Hutchison et al. 2013 / Allen et al. 2014: the
  // connectome is not static — correlate every parcel pair inside
  // sliding windows (length 10 TRs, step 5 → 5 windows over NT = 30)
  // and report, per pair, the window count, the mean windowed r, and
  // the across-window r VARIABILITY (the first dFC statistic). Each
  // window's r uses the q168 exact-moment expression with the window
  // length as n; r is 1e6-fixed-pointed (the shared 6-dp rounding
  // class) so the across-window moments are exact integers and the
  // population sd comes from the exact numerator n·Σr² − (Σr)² (≥ 0 by
  // Cauchy–Schwarz — no negative-variance clamp needed), ONE sqrt and
  // division per output. Flat-in-window pairs contribute NULL r to no
  // window (count skips them); a pair flat in EVERY window reads
  // n_win = 0 with NULL mean/sd.
  //
  // Scale shape: one data-sized exchange (the parcel-series aggregate);
  // the window expansion multiplies the NP·NT relation by ≤ wl/step = 2
  // live windows per TR, the (w, t)-keyed pair join and the window and
  // pair moments are |w|·NP²-bounded. No window function.

  private val dfcWl = 10
  private val dfcStep = 5
  private val dfcStarts: Seq[Int] = 0 to (NT - dfcWl) by dfcStep
  private val dfcNumStr =
    s"($dfcWl * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
  private val dfcDenAStr =
    s"($dfcWl * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
  private val dfcDenBStr =
    s"($dfcWl * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))"
  private val dfcRStr =
    s"CASE WHEN $dfcDenAStr > 0 AND $dfcDenBStr > 0 " +
      s"THEN $dfcNumStr / (sqrt($dfcDenAStr) * sqrt($dfcDenBStr)) END"

  /** The shared (ws, p1, p2, r_fp) windowed-correlation relation of the
    * dFC family (q223 variability + q229 state clustering). */
  private[graft] def dfcWindowR(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val par = series
      .selectExpr(s"CAST((x * 7 + y * 11 + z * 13) % $connNP AS INT) AS p",
        "t", "v")
      .groupBy("p", "t").agg(sum("v").as("pv"))
      .localCheckpoint() // NP·NT rows; both join sides
    val wins = dfcStarts.toDF("ws")
    val pw = par.crossJoin(broadcast(wins))
      .filter(expr(s"t >= ws AND t < ws + $dfcWl"))
    val a = pw.selectExpr("ws", "p AS p1", "t", "pv AS pva")
    val b = pw.selectExpr("ws", "p AS p2", "t", "pv AS pvb")
    a.join(b, Seq("ws", "t")).filter(col("p1") < col("p2"))
      .groupBy("ws", "p1", "p2")
      .agg(sum(expr("CAST(pva AS DECIMAL(38,0)) * pvb")).as("sab"),
        sum("pva").as("sa"), sum("pvb").as("sb"),
        sum(expr("CAST(pva AS DECIMAL(38,0)) * pva")).as("saa"),
        sum(expr("CAST(pvb AS DECIMAL(38,0)) * pvb")).as("sbb"))
      .selectExpr("ws", "p1", "p2",
        s"CAST(round(($dfcRStr) * 1e6, 0) AS BIGINT) AS r_fp")
  }

  /** The q223 body from a (t, x, y, z, v-cents) series. */
  private[graft] def dfcCore(series: DataFrame): DataFrame =
    dfcWindowR(series)
      .groupBy("p1", "p2")
      .agg(count("r_fp").as("n_win"), sum("r_fp").as("s1"),
        sum(expr("r_fp * r_fp")).as("s2"))
      .na.fill(0L, Seq("s1", "s2"))
      .selectExpr("p1", "p2", "n_win",
        "CASE WHEN n_win > 0 THEN round(CAST(s1 AS DOUBLE) / n_win / 1e6, 6) END AS mean_r",
        "CASE WHEN n_win > 0 THEN round(sqrt(CAST(n_win * s2 - s1 * s1 AS DOUBLE)) / n_win / 1e6, 6) END AS sd_r")
      .orderBy("p1", "p2")

  def dynamicConnectivity(s: SparkSession, d: String): DataFrame =
    dfcCore(centsSeries(s, d))

  private def dynamicConnectivitySql: String =
    s"""WITH $centsSeriesCte,
       |dpar AS MATERIALIZED (
       |  SELECT CAST((x * 7 + y * 11 + z * 13) % $connNP AS INTEGER) AS p,
       |    t, SUM(v) AS pv
       |  FROM series GROUP BY 1, 2
       |),
       |dwin AS (SELECT CAST(unnest([${dfcStarts.mkString(", ")}]) AS INTEGER) AS ws),
       |dmom AS MATERIALIZED (
       |  SELECT dwin.ws, a.p AS p1, b.p AS p2,
       |    SUM(CAST(a.pv AS HUGEINT) * b.pv) AS sab,
       |    SUM(a.pv) AS sa, SUM(b.pv) AS sb,
       |    SUM(CAST(a.pv AS HUGEINT) * a.pv) AS saa,
       |    SUM(CAST(b.pv AS HUGEINT) * b.pv) AS sbb
       |  FROM dpar a
       |  JOIN dpar b ON a.t = b.t AND a.p < b.p
       |  CROSS JOIN dwin
       |  WHERE a.t >= dwin.ws AND a.t < dwin.ws + $dfcWl
       |  GROUP BY 1, 2, 3
       |),
       |dr AS (
       |  SELECT ws, p1, p2,
       |    CAST(round(($dfcRStr) * 1e6, 0) AS BIGINT) AS r_fp
       |  FROM dmom
       |),
       |dagg AS (
       |  SELECT p1, p2, CAST(count(r_fp) AS BIGINT) AS n_win,
       |    CAST(COALESCE(SUM(r_fp), 0) AS BIGINT) AS s1,
       |    CAST(COALESCE(SUM(CAST(r_fp AS HUGEINT) * r_fp), 0) AS BIGINT) AS s2
       |  FROM dr GROUP BY 1, 2
       |)
       |SELECT p1, p2, n_win,
       |  CASE WHEN n_win > 0 THEN round(CAST(s1 AS DOUBLE) / n_win / 1e6, 6) END AS mean_r,
       |  CASE WHEN n_win > 0 THEN round(sqrt(CAST(n_win * s2 - s1 * s1 AS DOUBLE)) / n_win / 1e6, 6) END AS sd_r
       |FROM dagg
       |ORDER BY p1, p2""".stripMargin

  // ---- q229: dFC state clustering (k-means over window-FC vectors) ---------
  // The standard step after q223 (Allen et al. 2014, "tracking whole-
  // brain connectivity dynamics"): cluster the sliding-window FC
  // vectors into recurring STATES and report each state's occupancy and
  // dwell time. The window vector is q223's (p1, p2) → r_fp relation
  // with flat-pair NULLs imputed to 0 (uncorrelated); clustering is
  // Lloyd's k-means made deterministic and oracle-replayable the q65
  // way — with one twist that keeps EVERYTHING in exact integers where
  // q65 banks on a bit-replayable double fold: centroids are QUANTIZED
  // to the r_fp grid after every mean update, c = ⌊(2s + n) / (2n)⌋
  // (half-up-toward-+∞ integer rounding, exact floor division in both
  // engines), so assignment distances are exact BIGINT sums of squared
  // integers ((v−c)² ≤ 4·10¹² per dim) and the (dist ASC, state ASC)
  // argmin is a total integer order — no ULP flip can move a window
  // between states. Quantization error is ≤ half an r_fp unit (5·10⁻⁷
  // of r) — far below any FC state separation. Init: the first k
  // windows (ws ascending) seed the states; [[dfcLloydRounds]] fixed
  // assign→update rounds (the q65 iters convention), then one final
  // assignment; an emptied state keeps its previous centroid.
  //
  // Output per state: window count, occupancy fraction, run count, and
  // mean dwell (windows per visit) — the Allen et al. state statistics.
  //
  // Engine form: Lloyd runs on the driver over ONE capped collect of the
  // window vectors (dfcStatesAssign), in exact Long arithmetic
  // (Math.multiplyExact / addExact: an overflow fails, as ANSI SQL does);
  // a distance sums the dims a window shares with the centroid, as the
  // oracle's join does, and c = floorDiv(2s + n, 2n) is the oracle's
  // floor division. The (ws, state) assignment leaves as one
  // LocalRelation; the run and occupancy statistics stay Catalyst.
  //
  // Scale shape: the window-vector relation is |W|·NP²-bounded and
  // crosses to the driver once; each round is O(|W|·k·NP²) integer work
  // there. Atlas regime by contract: vectors over the pin cap fail
  // loudly with the site's name.

  private val dfcK = 2
  private val dfcLloydRounds = 2

  /** The q229 body from a (ws, p1, p2, v) window-vector relation —
    * split out so specs can plant alternating / blocked state
    * sequences. Every window must carry every (p1, p2) dim. */
  private[graft] def dfcStatesFromVectors(wr0: DataFrame): DataFrame = {
    val wr = wr0.select("ws", "p1", "p2", "v").localCheckpoint()
    val fin = dfcStatesAssign(wr) // driver-local, |W| rows
    val runs = fin
      .withColumn("prev", lag("state", 1).over(
        graft.util.Windows.boundedGlobalWindow(
          "|W|-bounded: one row per dFC window", col("ws"))))
      .selectExpr("state",
        "CASE WHEN prev IS NULL OR prev != state THEN 1 ELSE 0 END AS rs")
      .groupBy("state").agg(sum("rs").as("n_runs"))
    val per = fin.groupBy("state").agg(count(lit(1)).as("n_win"))
    val states = wr.sparkSession.range(dfcK).select(col("id").cast("int").as("state"))
    states
      .join(per, Seq("state"), "left")
      .join(runs, Seq("state"), "left")
      .na.fill(0L, Seq("n_win", "n_runs"))
      .crossJoin(broadcast(wr.select("ws").distinct().agg(count(lit(1)).as("nw"))))
      .selectExpr("state", "n_win",
        "CASE WHEN nw > 0 THEN round(CAST(n_win AS DOUBLE) / nw, 6) END AS occ",
        "n_runs",
        "CASE WHEN n_runs > 0 THEN round(CAST(n_win AS DOUBLE) / n_runs, 6) END AS mean_dwell")
      .orderBy("state")
  }

  def dfcStates(s: SparkSession, d: String): DataFrame =
    dfcStatesFromVectors(
      dfcWindowR(centsSeries(s, d))
        .selectExpr("ws", "p1", "p2", "COALESCE(r_fp, CAST(0 AS BIGINT)) AS v"))

  /** The generated series → window-vector CTE prefix (ends in
    * `dwr(ws, p1, p2, v)`) — shared by the Lloyd chain (q229/q231) and
    * the keyed-LPA stability query (q236). */
  /** The windowed-r chain sans the shared `series` prefix — lets q257
    * compose it behind [[connectomeCtes]] (which defines the same
    * `series`) without a duplicate-CTE clash. */
  private def dfcVectorCtes: String = s"$centsSeriesCte,\n$dfcWindowBodyCtes"

  private def dfcWindowBodyCtes: String =
    s"""dpar AS MATERIALIZED (
       |  SELECT CAST((x * 7 + y * 11 + z * 13) % $connNP AS INTEGER) AS p,
       |    t, SUM(v) AS pv
       |  FROM series GROUP BY 1, 2
       |),
       |dwin AS (SELECT CAST(unnest([${dfcStarts.mkString(", ")}]) AS INTEGER) AS ws),
       |dmom AS MATERIALIZED (
       |  SELECT dwin.ws, a.p AS p1, b.p AS p2,
       |    SUM(CAST(a.pv AS HUGEINT) * b.pv) AS sab,
       |    SUM(a.pv) AS sa, SUM(b.pv) AS sb,
       |    SUM(CAST(a.pv AS HUGEINT) * a.pv) AS saa,
       |    SUM(CAST(b.pv AS HUGEINT) * b.pv) AS sbb
       |  FROM dpar a
       |  JOIN dpar b ON a.t = b.t AND a.p < b.p
       |  CROSS JOIN dwin
       |  WHERE a.t >= dwin.ws AND a.t < dwin.ws + $dfcWl
       |  GROUP BY 1, 2, 3
       |),
       |dwr AS MATERIALIZED (
       |  SELECT ws, p1, p2,
       |    CAST(COALESCE(CAST(round(($dfcRStr) * 1e6, 0) AS BIGINT), 0) AS BIGINT) AS v
       |  FROM dmom
       |)""".stripMargin

  /** The generated q229 CTE chain (series → window vectors → Lloyd
    * rounds → final assignment daF + didx) — shared with the q231
    * transition tail. */
  private def dfcStateCtes: String = {
    val roundCtes = (1 to dfcLloydRounds).map { i =>
      s"""da$i AS MATERIALIZED (
         |  SELECT ws, state FROM (
         |    SELECT ws, state,
         |      ROW_NUMBER() OVER (PARTITION BY ws ORDER BY dist ASC, state ASC) AS rn
         |    FROM (
         |      SELECT dwr.ws, c.state,
         |        CAST(SUM((dwr.v - c.c) * (dwr.v - c.c)) AS BIGINT) AS dist
         |      FROM dwr JOIN dc${i - 1} c ON c.p1 = dwr.p1 AND c.p2 = dwr.p2
         |      GROUP BY 1, 2)
         |  ) WHERE rn = 1
         |),
         |dup$i AS (
         |  SELECT state, p1, p2, (2 * s + n) // (2 * n) AS c FROM (
         |    SELECT da$i.state, dwr.p1, dwr.p2,
         |      CAST(SUM(dwr.v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         |    FROM dwr JOIN da$i ON da$i.ws = dwr.ws GROUP BY 1, 2, 3)
         |),
         |dc$i AS MATERIALIZED (
         |  SELECT o.state, o.p1, o.p2, CAST(COALESCE(u.c, o.c) AS BIGINT) AS c
         |  FROM dc${i - 1} o
         |  LEFT JOIN dup$i u ON u.state = o.state AND u.p1 = o.p1 AND u.p2 = o.p2
         |)""".stripMargin
    }.mkString(",\n")
    s"""$dfcVectorCtes,
       |didx AS MATERIALIZED (
       |  SELECT ws, ROW_NUMBER() OVER (ORDER BY ws) - 1 AS st
       |  FROM (SELECT DISTINCT ws FROM dwr)
       |),
       |dc0 AS MATERIALIZED (
       |  SELECT CAST(didx.st AS INTEGER) AS state, p1, p2, v AS c
       |  FROM dwr JOIN didx ON didx.ws = dwr.ws WHERE didx.st < $dfcK
       |),
       |$roundCtes,
       |daF AS MATERIALIZED (
       |  SELECT ws, state FROM (
       |    SELECT ws, state,
       |      ROW_NUMBER() OVER (PARTITION BY ws ORDER BY dist ASC, state ASC) AS rn
       |    FROM (
       |      SELECT dwr.ws, c.state,
       |        CAST(SUM((dwr.v - c.c) * (dwr.v - c.c)) AS BIGINT) AS dist
       |      FROM dwr JOIN dc$dfcLloydRounds c ON c.p1 = dwr.p1 AND c.p2 = dwr.p2
       |      GROUP BY 1, 2)
       |  ) WHERE rn = 1
       |)""".stripMargin
  }

  private def dfcStatesSql: String =
    s"""WITH $dfcStateCtes,
       |druns AS (
       |  SELECT state, CAST(SUM(rs) AS BIGINT) AS n_runs FROM (
       |    SELECT state,
       |      CASE WHEN lag(state) OVER (ORDER BY ws) IS NULL
       |        OR lag(state) OVER (ORDER BY ws) != state THEN 1 ELSE 0 END AS rs
       |    FROM daF) GROUP BY state
       |),
       |dper AS (SELECT state, CAST(count(*) AS BIGINT) AS n_win FROM daF GROUP BY 1),
       |dnw AS (SELECT CAST(count(*) AS BIGINT) AS nw FROM didx),
       |dst AS (SELECT CAST(unnest(generate_series(0, ${dfcK - 1})) AS INTEGER) AS state)
       |SELECT dst.state, COALESCE(dper.n_win, 0) AS n_win,
       |  CASE WHEN dnw.nw > 0
       |    THEN round(CAST(COALESCE(dper.n_win, 0) AS DOUBLE) / dnw.nw, 6) END AS occ,
       |  COALESCE(druns.n_runs, 0) AS n_runs,
       |  CASE WHEN COALESCE(druns.n_runs, 0) > 0
       |    THEN round(CAST(dper.n_win AS DOUBLE) / druns.n_runs, 6) END AS mean_dwell
       |FROM dst
       |LEFT JOIN dper ON dper.state = dst.state
       |LEFT JOIN druns ON druns.state = dst.state
       |CROSS JOIN dnw
       |ORDER BY dst.state""".stripMargin

  // ---- q231: dFC state transition matrix -------------------------------------
  // The companion statistic Allen et al. 2014 report beside occupancy
  // and dwell: the state-to-state transition counts over consecutive
  // windows and their row-normalized probabilities (the empirical
  // Markov kernel of the state sequence). Transitions come from the
  // SAME final assignment as q229 (shared Spark kernel / SQL CTE
  // chain); the full k×k grid is emitted with explicit zeros, one
  // correctly-rounded division per row (NULL when the source state was
  // never left — no transitions out).
  //
  // Scale shape: q229's driver Lloyd + one |W|-row lead window + a
  // k²-grid broadcast join. Nothing new is data-sized.

  /** The q231 body from a (ws, p1, p2, v) window-vector relation. */
  private[graft] def dfcTransitionsFromVectors(wr0: DataFrame): DataFrame = {
    val wr = wr0.select("ws", "p1", "p2", "v")
    val fin = dfcStatesAssign(wr) // driver-local, |W| rows
    val tr = fin
      .withColumn("to_state", lead("state", 1).over(
        graft.util.Windows.boundedGlobalWindow(
          "|W|-bounded: one row per dFC window", col("ws"))))
      .filter(col("to_state").isNotNull)
      .groupBy(col("state").as("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ k² rows; grid join + row totals
    val s = wr.sparkSession
    val grid = s.range(dfcK).select(col("id").cast("int").as("from_state"))
      .crossJoin(s.range(dfcK).select(col("id").cast("int").as("to_state")))
    val tot = tr.groupBy("from_state").agg(sum("n").as("n_out"))
    grid
      .join(tr, Seq("from_state", "to_state"), "left")
      .join(tot, Seq("from_state"), "left")
      .na.fill(0L, Seq("n"))
      .selectExpr("from_state", "to_state", "n",
        "CASE WHEN n_out > 0 THEN round(CAST(n AS DOUBLE) / n_out, 6) END AS p")
      .orderBy("from_state", "to_state")
  }

  /** The shared q229/q231 Lloyd fit → final (ws, state) assignment, on
    * the driver (the q229 section note). Seeds are the first k windows by
    * ws; each round assigns every window to the state of least exact
    * squared distance over the dims it shares with that state's centroid
    * (ties to the lower state; a window sharing no dim with any centroid
    * stays unassigned), then moves each centroid dim to
    * floorDiv(2s + n, 2n) over its assigned windows — an emptied state, or
    * a dim no assigned window carries, keeps its value. Every window must
    * carry each (p1, p2) dim at most once. */
  private[graft] def dfcStatesAssign(wr: DataFrame): DataFrame = {
    val rows = graft.util.Loops.pinnedRows(wr.select("ws", "p1", "p2", "v"),
      "DesignImage.dfcStatesAssign")
    val byWs = rows.groupBy(_.get(0))
    val windows = byWs.keys.toSeq.sorted(
      Ordering.fromLessThan[Any](_.asInstanceOf[Comparable[Any]].compareTo(_) < 0))
    val vecs = windows.map(byWs(_).map(r => (r.get(1), r.get(2)) -> r.getLong(3)).toMap)
    def sq(x: Long): Long = Math.multiplyExact(x, x)
    def assign(cent: Seq[Map[(Any, Any), Long]]): Seq[Option[Int]] = vecs.map { v =>
      cent.indices.flatMap { st =>
        val shared = cent(st).filter(d => v.contains(d._1))
        Option.when(shared.nonEmpty)((shared.foldLeft(0L) { case (acc, (d, c)) =>
          Math.addExact(acc, sq(Math.subtractExact(v(d), c))) }, st))
      }.minOption.map(_._2)
    }
    val cent = (0 until dfcLloydRounds).foldLeft(vecs.take(dfcK)) { (cent, _) =>
      val a = assign(cent)
      cent.indices.map { st =>
        val members = vecs.indices.filter(a(_).contains(st)).map(vecs)
        cent(st).map { case (d, c) =>
          val vs = members.flatMap(_.get(d))
          val (s, n) = (vs.foldLeft(0L)(Math.addExact), vs.size.toLong)
          d -> (if (n == 0) c
            else Math.floorDiv(Math.addExact(Math.multiplyExact(2L, s), n), 2 * n))
        }
      }
    }
    GraphLoops.local(wr.sparkSession,
      Seq(wr.schema("ws"), StructField("state", IntegerType, nullable = false)),
      windows.zip(assign(cent)).collect { case (ws, Some(st)) => Seq(ws, st) })
  }

  def dfcTransitions(s: SparkSession, d: String): DataFrame =
    dfcTransitionsFromVectors(
      dfcWindowR(centsSeries(s, d))
        .selectExpr("ws", "p1", "p2", "COALESCE(r_fp, CAST(0 AS BIGINT)) AS v"))

  private def dfcTransitionsSql: String =
    s"""WITH $dfcStateCtes,
       |dtr AS MATERIALIZED (
       |  SELECT state AS from_state, to_state, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT state, lead(state) OVER (ORDER BY ws) AS to_state FROM daF
       |  ) WHERE to_state IS NOT NULL GROUP BY 1, 2
       |),
       |dtot AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS n_out FROM dtr GROUP BY 1),
       |dgrid AS (
       |  SELECT CAST(f.f AS INTEGER) AS from_state, CAST(t.t AS INTEGER) AS to_state
       |  FROM generate_series(0, ${dfcK - 1}) f(f), generate_series(0, ${dfcK - 1}) t(t)
       |)
       |SELECT dgrid.from_state, dgrid.to_state, COALESCE(dtr.n, 0) AS n,
       |  CASE WHEN dtot.n_out > 0
       |    THEN round(CAST(COALESCE(dtr.n, 0) AS DOUBLE) / dtot.n_out, 6) END AS p
       |FROM dgrid
       |LEFT JOIN dtr ON dtr.from_state = dgrid.from_state AND dtr.to_state = dgrid.to_state
       |LEFT JOIN dtot ON dtot.from_state = dgrid.from_state
       |ORDER BY dgrid.from_state, dgrid.to_state""".stripMargin

  // ---- q236: window-module stability (keyed LPA + Rand index) ---------------
  // The module-dynamics statistic between q229's states and Bassett's
  // multilayer flexibility: detect modules INDEPENDENTLY per sliding
  // window (q208's LPA at the window grain — positive ties r ≥ 0.2 on
  // the windowed r) and report, per CONSECUTIVE window pair, the RAND
  // INDEX between the two partitions — the fraction of node pairs on
  // which they agree (together-in-both or apart-in-both). Raw labels
  // are NOT comparable across windows (label identity is arbitrary);
  // the Rand index is label-invariant and pure integer arithmetic:
  // agree / C(n, 2), ONE division per window pair. A stable connectome
  // reads RI ≈ 1 across all pairs; reconfiguration windows dip.
  //
  // Determinism: the windows' edge relations cross to the driver in ONE
  // keyed pin (GraphLoops.pinKeyed, key = ws), and q208's LPA kernel
  // (GraphLoops.lpa: same tie rule, same self-vote) runs per window,
  // stopping at that window's fixed point, ceilinged at connNP. The
  // oracle unrolls all windows in lockstep for connNP rounds; a window
  // at its fixed point reproduces its labels, so the per-window fixed
  // points are the lockstep ones. Window pairs compare over their COMMON
  // node pairs (inner join — identical sets on the driver graph).
  //
  // Scale shape: one data-sized exchange (the q223 window moments); the
  // |W|·NP²-bounded keyed edge relation is pinned once, LPA is
  // O(|W|·connNP·E) driver work, and the |W|·NP labels leave as one
  // LocalRelation feeding a |W|·NP²-bounded pair comparison. No window
  // function except the |W|-row index.

  /** Per-window LPA labels (ws, p, lab) from a (ws, p1, p2, r_fp)
    * windowed-correlation relation — the keyed detection kernel shared
    * by q236 (Rand-index stability), q241 (flexibility), q256
    * (allegiance) and q257 (recruitment). p and lab are the input's id
    * type. */
  private[graft] def dfcWindowModules(wr0: DataFrame): DataFrame = {
    val site = "DesignImage.dfcWindowModules"
    GraphLoops.pinKeyed(wr0.selectExpr("ws", "p1", "p2",
      "CASE WHEN r_fp IS NOT NULL AND r_fp >= 200000 THEN 1 ELSE 0 END AS edge"),
      Seq("ws"), site).labels("lab", site)(GraphLoops.lpa(_, connNP, site)._1)
  }

  /** The consecutive window pairs (ws_from, ws_to) over `lab`'s windows
    * in ws order — q236's and q241's transitions. */
  private def dfcWindowPairs(lab: DataFrame): DataFrame = {
    val wsIdx = graft.util.Loops.pin(lab.select("ws").distinct()
      .withColumn("idx", row_number().over(
        graft.util.Windows.boundedGlobalWindow(
          "|W|-bounded: one row per dFC window", col("ws")))))
    // |W| rows; both pair endpoints (pin, not checkpoint — r21)
    wsIdx.selectExpr("ws AS ws_from", "idx")
      .join(wsIdx.selectExpr("ws AS ws_to", "idx - 1 AS idx"), Seq("idx"))
      .select("ws_from", "ws_to")
  }

  /** Per-consecutive-window Rand index from a (ws, p1, p2, r_fp)
    * windowed-correlation relation. */
  private[graft] def dfcModuleStabilityCore(wr0: DataFrame): DataFrame = {
    val lab = dfcWindowModules(wr0) // driver-local already
    val same = graft.util.Loops.pin(lab.selectExpr("ws", "p AS i", "lab AS li")
      .join(lab.selectExpr("ws", "p AS j", "lab AS lj"), Seq("ws"))
      .filter(col("i") < col("j"))
      .selectExpr("ws", "i", "j",
        "CASE WHEN li = lj THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS sm"))
    // |W|·NP²-bounded; both comparison sides
    graft.util.Loops.pin(dfcWindowPairs(lab)
      .join(same.selectExpr("ws AS ws_from", "i", "j", "sm AS sm_f"), Seq("ws_from"))
      .join(same.selectExpr("ws AS ws_to", "i", "j", "sm AS sm_t"),
        Seq("ws_to", "i", "j"))
      .groupBy("ws_from", "ws_to")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CASE WHEN sm_f = sm_t THEN 1 ELSE 0 END")).as("n_agree"))
      .selectExpr("ws_from", "ws_to", "n_pairs", "n_agree",
        "CASE WHEN n_pairs > 0 THEN round(CAST(n_agree AS DOUBLE) / n_pairs, 6) END AS rand_index"))
      .orderBy("ws_from") // the sort stays in the plan, past the pin
  }

  def dfcModuleStability(s: SparkSession, d: String): DataFrame =
    dfcModuleStabilityCore(dfcWindowR(centsSeries(s, d)))

  /** The keyed LPA round CTEs: klp0 … klp{rounds} over
    * kparcels(ws, p) / ksym(ws, p, q), ending in `klpmod(ws, p, lab)`.
    * Unroll count = the driver kernel's round cap; rounds past a window's
    * fixed point reproduce its labels (the q208 lockstep argument), so
    * the plain unroll agrees with each window's early-stopped loop. */
  private def lpaKeyedCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""klpv$i AS MATERIALIZED (
         |  SELECT v.ws, v.p, v.lab, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT s.ws, s.p, l.lab
         |    FROM ksym s JOIN klp${i - 1} l ON l.ws = s.ws AND l.p = s.q
         |    UNION ALL
         |    SELECT ws, p, lab FROM klp${i - 1}
         |  ) v GROUP BY v.ws, v.p, v.lab
         |),
         |klp$i AS MATERIALIZED (
         |  SELECT ws, p, lab FROM (
         |    SELECT ws, p, lab, ROW_NUMBER() OVER (PARTITION BY ws, p
         |      ORDER BY c DESC, lab ASC) AS rn
         |    FROM klpv$i) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""klp0 AS MATERIALIZED (SELECT ws, p, p AS lab FROM kparcels),
       |$roundCtes,
       |klpmod AS MATERIALIZED (SELECT ws, p, lab FROM klp$rounds)""".stripMargin
  }

  private def dfcModuleStabilitySql: String =
    s"""WITH $dfcVectorCtes,
       |kpe AS MATERIALIZED (
       |  SELECT ws, p1, p2,
       |    CASE WHEN v >= 200000 THEN 1 ELSE 0 END AS edge
       |  FROM dwr
       |),
       |kparcels AS MATERIALIZED (SELECT DISTINCT ws, p FROM (
       |  SELECT ws, p1 AS p FROM kpe UNION ALL SELECT ws, p2 AS p FROM kpe)),
       |kones AS (SELECT ws, p1, p2 FROM kpe WHERE edge = 1),
       |ksym AS MATERIALIZED (SELECT ws, p, q FROM (
       |  SELECT ws, p1 AS p, p2 AS q FROM kones
       |  UNION ALL SELECT ws, p2 AS p, p1 AS q FROM kones)),
       |${lpaKeyedCtes(connNP)},
       |kidx AS MATERIALIZED (
       |  SELECT ws, ROW_NUMBER() OVER (ORDER BY ws) AS idx
       |  FROM (SELECT DISTINCT ws FROM klpmod)
       |),
       |kwp AS (
       |  SELECT a.ws AS ws_from, b.ws AS ws_to
       |  FROM kidx a JOIN kidx b ON b.idx = a.idx + 1
       |),
       |ksame AS MATERIALIZED (
       |  SELECT a.ws, a.p AS i, b.p AS j,
       |    CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END AS sm
       |  FROM klpmod a JOIN klpmod b ON b.ws = a.ws AND a.p < b.p
       |)
       |SELECT kwp.ws_from, kwp.ws_to,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CASE WHEN f.sm = t.sm THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  round(CAST(SUM(CASE WHEN f.sm = t.sm THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rand_index
       |FROM kwp
       |JOIN ksame f ON f.ws = kwp.ws_from
       |JOIN ksame t ON t.ws = kwp.ws_to AND t.i = f.i AND t.j = f.j
       |GROUP BY kwp.ws_from, kwp.ws_to
       |ORDER BY kwp.ws_from""".stripMargin

  // ---- q241: dFC / multilayer flexibility (per-node module switching) -------
  // Bassett et al. 2011's flexibility, the per-NODE companion of q236's
  // per-window-pair Rand index (r18 verdict gap #4): the fraction of
  // consecutive-window transitions in which a node changes module.
  // Raw keyed-LPA labels are not comparable across windows (label
  // identity is arbitrary), so each transition first computes the
  // MAX-OVERLAP CARRY-OVER: every to-window module is matched to the
  // from-window module it shares the most nodes with, ties broken
  // (overlap DESC, from-label ASC) — a total integer order, so both
  // engines match identically. A node "switches" when its from-label
  // differs from its to-module's carried-over label. The matching is a
  // per-to-module argmax (two to-modules MAY carry the same from-label
  // — the simple Hungarian-free form the multilayer literature uses
  // for module tracking; deterministic either way). One division per
  // node row. The detection labels are EXACTLY q236's (shared
  // dfcWindowModules kernel + shared klpmod oracle CTEs), so the two
  // statistics can never disagree about who was in which module.
  //
  // Scale shape: the q236 chain (one data-sized window-moment pass, one
  // keyed pin, driver LPA per window) + a |W|·NP-bounded transition
  // join, a |W|·modules²-bounded overlap aggregate, and an NP-bounded
  // output.

  /** Per-node flexibility from a (ws, p1, p2, r_fp) windowed-
    * correlation relation → (p, n_trans, n_changes, flexibility). */
  private[graft] def dfcFlexibilityCore(wr0: DataFrame): DataFrame = {
    val lab = dfcWindowModules(wr0) // driver-local already
    val fj = graft.util.Loops.pin(dfcWindowPairs(lab)
      .join(lab.selectExpr("ws AS ws_from", "p", "lab AS lf"), Seq("ws_from"))
      .join(lab.selectExpr("ws AS ws_to", "p", "lab AS lt"),
        Seq("ws_to", "p"))) // |W|·NP rows; overlap + change counts
    val fmat = fj.groupBy("ws_to", "lt", "lf").agg(count(lit(1)).as("o"))
      .groupBy("ws_to", "lt")
      .agg(min(struct(expr("-o AS no"), col("lf"))).as("w"))
      .selectExpr("ws_to", "lt", "w.lf AS lm")
    graft.util.Loops.pin(fj.join(broadcast(fmat), Seq("ws_to", "lt"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_trans"),
        sum(expr("CASE WHEN lm <> lf THEN CAST(1 AS BIGINT) ELSE 0 END"))
          .as("n_changes"))
      .selectExpr("p", "n_trans", "n_changes",
        "round(CAST(n_changes AS DOUBLE) / n_trans, 6) AS flexibility"))
      .orderBy("p") // the sort stays in the plan, past the pin
  }

  def dfcFlexibility(s: SparkSession, d: String): DataFrame =
    dfcFlexibilityCore(dfcWindowR(centsSeries(s, d)))

  private def dfcFlexibilitySql: String =
    s"""WITH $dfcVectorCtes,
       |kpe AS MATERIALIZED (
       |  SELECT ws, p1, p2,
       |    CASE WHEN v >= 200000 THEN 1 ELSE 0 END AS edge
       |  FROM dwr
       |),
       |kparcels AS MATERIALIZED (SELECT DISTINCT ws, p FROM (
       |  SELECT ws, p1 AS p FROM kpe UNION ALL SELECT ws, p2 AS p FROM kpe)),
       |kones AS (SELECT ws, p1, p2 FROM kpe WHERE edge = 1),
       |ksym AS MATERIALIZED (SELECT ws, p, q FROM (
       |  SELECT ws, p1 AS p, p2 AS q FROM kones
       |  UNION ALL SELECT ws, p2 AS p, p1 AS q FROM kones)),
       |${lpaKeyedCtes(connNP)},
       |kidx AS MATERIALIZED (
       |  SELECT ws, ROW_NUMBER() OVER (ORDER BY ws) AS idx
       |  FROM (SELECT DISTINCT ws FROM klpmod)
       |),
       |kwp AS (
       |  SELECT a.ws AS ws_from, b.ws AS ws_to
       |  FROM kidx a JOIN kidx b ON b.idx = a.idx + 1
       |),
       |fj AS MATERIALIZED (
       |  SELECT kwp.ws_to, f.p, f.lab AS lf, t.lab AS lt
       |  FROM kwp
       |  JOIN klpmod f ON f.ws = kwp.ws_from
       |  JOIN klpmod t ON t.ws = kwp.ws_to AND t.p = f.p
       |),
       |fov AS (
       |  SELECT ws_to, lt, lf, CAST(count(*) AS BIGINT) AS o
       |  FROM fj GROUP BY 1, 2, 3
       |),
       |fmat AS MATERIALIZED (
       |  SELECT ws_to, lt, lf AS lm FROM (
       |    SELECT ws_to, lt, lf, ROW_NUMBER() OVER (PARTITION BY ws_to, lt
       |      ORDER BY o DESC, lf ASC) AS rn
       |    FROM fov) WHERE rn = 1
       |)
       |SELECT fj.p,
       |  CAST(count(*) AS BIGINT) AS n_trans,
       |  CAST(SUM(CASE WHEN fmat.lm <> fj.lf THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
       |  round(CAST(SUM(CASE WHEN fmat.lm <> fj.lf THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS flexibility
       |FROM fj JOIN fmat ON fmat.ws_to = fj.ws_to AND fmat.lt = fj.lt
       |GROUP BY fj.p
       |ORDER BY fj.p""".stripMargin

  // ---- q256: module allegiance matrix (dFC co-classification) ---------------
  // The pairwise companion of q241's per-node flexibility (Bassett et
  // al. 2011 PNAS; Mattar et al. 2015's "module allegiance"): for each
  // parcel pair, the fraction of dFC windows in which the two landed in
  // the SAME module,
  //   P_ij = (1/|W|) Σ_w [ m_i^w = m_j^w ],
  // the label-INVARIANT summary of the whole keyed-detection history
  // (only within-window equality is read, so arbitrary label identity
  // across windows — the thing that forces q241's carry-over matching —
  // never enters). P is the input to the literature's recruitment/
  // integration readouts and the natural "which regions travel
  // together" matrix a dashboard draws. Detection labels are EXACTLY
  // q236/q241's (shared dfcWindowModules kernel + shared klpmod oracle
  // CTEs), so the three dFC statistics can never disagree about who
  // was in which module. Counts exact; ONE division per pair; dense
  // over ordered pairs i < j by construction (every parcel is in every
  // window's set — the all-pairs windowed-r relation registers them).
  //
  // Scale shape: the q236 chain (one data-sized window-moment pass, one
  // keyed pin, driver LPA per window), then a |W|·NP²-bounded same-module
  // join folding straight into an NP²-bounded aggregate.

  /** Allegiance matrix from a (ws, p1, p2, r_fp) windowed-correlation
    * relation → (i, j, n_windows, n_together, allegiance). */
  private[graft] def moduleAllegianceCore(wr0: DataFrame): DataFrame = {
    val lab = dfcWindowModules(wr0) // driver-local already
    graft.util.Loops.pin(lab.selectExpr("ws", "p AS i", "lab AS li")
      .join(lab.selectExpr("ws", "p AS j", "lab AS lj"), Seq("ws"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n_windows"),
        sum(expr("CASE WHEN li = lj THEN CAST(1 AS BIGINT) ELSE 0 END"))
          .as("n_together"))
      .selectExpr("i", "j", "n_windows", "n_together",
        "CASE WHEN n_windows > 0 THEN round(CAST(n_together AS DOUBLE) / n_windows, 6) END AS allegiance"))
      .orderBy("i", "j") // NP²-bounded tail: one pin, not 32-task stages;
    // the sort stays in the plan, so the order holds on the demoted path too
  }

  def moduleAllegiance(s: SparkSession, d: String): DataFrame =
    moduleAllegianceCore(dfcWindowR(centsSeries(s, d)))

  private def moduleAllegianceSql: String =
    s"""WITH $dfcVectorCtes,
       |kpe AS MATERIALIZED (
       |  SELECT ws, p1, p2,
       |    CASE WHEN v >= 200000 THEN 1 ELSE 0 END AS edge
       |  FROM dwr
       |),
       |kparcels AS MATERIALIZED (SELECT DISTINCT ws, p FROM (
       |  SELECT ws, p1 AS p FROM kpe UNION ALL SELECT ws, p2 AS p FROM kpe)),
       |kones AS (SELECT ws, p1, p2 FROM kpe WHERE edge = 1),
       |ksym AS MATERIALIZED (SELECT ws, p, q FROM (
       |  SELECT ws, p1 AS p, p2 AS q FROM kones
       |  UNION ALL SELECT ws, p2 AS p, p1 AS q FROM kones)),
       |${lpaKeyedCtes(connNP)}
       |SELECT a.p AS i, b.p AS j,
       |  CAST(count(*) AS BIGINT) AS n_windows,
       |  CAST(SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS BIGINT) AS n_together,
       |  CASE WHEN count(*) > 0 THEN
       |    round(CAST(SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) END AS allegiance
       |FROM klpmod a JOIN klpmod b ON b.ws = a.ws AND a.p < b.p
       |GROUP BY a.p, b.p
       |ORDER BY i, j""".stripMargin

  // ---- q257: recruitment & integration (allegiance vs static modules) -------
  // The node-level readout the allegiance matrix exists to feed
  // (Mattar et al. 2015 PLoS Comput Biol; Bassett et al. 2015): against
  // the STATIC module partition (q208's LPA on the full-series
  // connectome — the same labels q212's Q scores), each parcel's
  //   recruitment  = mean allegiance to parcels of its OWN module,
  //   integration  = mean allegiance to parcels of OTHER modules —
  // "does this region keep co-classifying with its home system across
  // time, and how much does it couple outward". Because every pair
  // shares the same window count, the mean of P_ij ratios collapses to
  // ONE exact integer ratio: Σ n_together / Σ n_windowpairs over the
  // partner set — no double accumulates across pairs. Windowed labels
  // are EXACTLY q236/q241/q256's (shared dfcWindowModules + klpmod);
  // static labels are EXACTLY q208/q212's (shared lpaModules + mmod) —
  // the composition can never disagree with either parent about
  // membership. A single-member module has no within partners →
  // recruitment NULL (not 0 — the q32-class honest-null rule).
  //
  // Scale shape: the q236 keyed chain + the q208 static chain (both
  // connectome-moment dominated, sharing ONE voxel-series pass via the
  // checkpointed input; each a driver LPA over one pin), then a
  // |W|·NP²-bounded ordered-pair fold and an NP-bounded output.

  /** Recruitment/integration from a (ws, p1, p2, r_fp) windowed-
    * correlation relation and a (p, m) static module relation. */
  private[graft] def recruitmentCore(wr0: DataFrame,
      modules: DataFrame): DataFrame = {
    val lab = dfcWindowModules(wr0) // driver-local already
    val mods = graft.util.Loops.pin(modules) // NP rows; both join sides
    val pairAg = lab.selectExpr("ws", "p AS i", "lab AS li")
      .join(lab.selectExpr("ws", "p AS j", "lab AS lj"), Seq("ws"))
      .filter(col("i") =!= col("j")) // ordered pairs: each node sees all partners
      .groupBy("i", "j")
      .agg(count(lit(1)).as("nw"),
        sum(expr("CASE WHEN li = lj THEN CAST(1 AS BIGINT) ELSE 0 END")).as("nt"))
    graft.util.Loops.pin(pairAg
      .join(broadcast(mods.selectExpr("p AS i", "m AS mi")), Seq("i"))
      .join(broadcast(mods.selectExpr("p AS j", "m AS mj")), Seq("j"))
      .selectExpr("i", "mi",
        "CASE WHEN mi = mj THEN nw ELSE CAST(0 AS BIGINT) END AS nww",
        "CASE WHEN mi = mj THEN nt ELSE CAST(0 AS BIGINT) END AS ntw",
        "CASE WHEN mi <> mj THEN nw ELSE CAST(0 AS BIGINT) END AS nwb",
        "CASE WHEN mi <> mj THEN nt ELSE CAST(0 AS BIGINT) END AS ntb")
      .groupBy("i", "mi")
      .agg(sum("nww").as("w_pairs"), sum("ntw").as("w_together"),
        sum("nwb").as("b_pairs"), sum("ntb").as("b_together"))
      .selectExpr("i AS p", "mi AS m", "w_pairs", "w_together",
        "CASE WHEN w_pairs > 0 THEN round(CAST(w_together AS DOUBLE) / w_pairs, 6) END AS recruitment",
        "b_pairs", "b_together",
        "CASE WHEN b_pairs > 0 THEN round(CAST(b_together AS DOUBLE) / b_pairs, 6) END AS integration"))
      .orderBy("p") // NP-bounded tail: one pin, not 32-task stages
  }

  def recruitment(s: SparkSession, d: String): DataFrame = {
    val vox = centsSeries(s, d)
      .localCheckpoint() // ONE voxel-series pass feeds both chains
    val pe = connectomeCore(vox)
      .selectExpr("p1", "p2", s"$lpaEdgeStr AS edge").localCheckpoint()
    recruitmentCore(dfcWindowR(vox), lpaModules(pe, maxRounds = connNP))
  }

  private def recruitmentSql: String =
    s"""WITH $connectomeCtes,
       |pe2 AS MATERIALIZED (SELECT p1, p2, $lpaEdgeStr AS edge FROM pairs),
       |mparcels AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe2 UNION ALL SELECT p2 AS p FROM pe2)),
       |mones AS MATERIALIZED (SELECT p1, p2 FROM pe2 WHERE edge = 1),
       |msym AS MATERIALIZED (SELECT p, q FROM (
       |  SELECT p1 AS p, p2 AS q FROM mones
       |  UNION ALL SELECT p2 AS p, p1 AS q FROM mones)),
       |${lpaCtes(connNP)},
       |$dfcWindowBodyCtes,
       |kpe AS MATERIALIZED (
       |  SELECT ws, p1, p2,
       |    CASE WHEN v >= 200000 THEN 1 ELSE 0 END AS edge
       |  FROM dwr
       |),
       |kparcels AS MATERIALIZED (SELECT DISTINCT ws, p FROM (
       |  SELECT ws, p1 AS p FROM kpe UNION ALL SELECT ws, p2 AS p FROM kpe)),
       |kones AS (SELECT ws, p1, p2 FROM kpe WHERE edge = 1),
       |ksym AS MATERIALIZED (SELECT ws, p, q FROM (
       |  SELECT ws, p1 AS p, p2 AS q FROM kones
       |  UNION ALL SELECT ws, p2 AS p, p1 AS q FROM kones)),
       |${lpaKeyedCtes(connNP)},
       |kag AS MATERIALIZED (
       |  SELECT a.p AS i, b.p AS j,
       |    CAST(count(*) AS BIGINT) AS nw,
       |    CAST(SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS BIGINT) AS nt
       |  FROM klpmod a JOIN klpmod b ON b.ws = a.ws AND a.p <> b.p
       |  GROUP BY 1, 2
       |),
       |kagm AS (
       |  SELECT kag.i, mi.m AS mi,
       |    CASE WHEN mi.m = mj.m THEN nw ELSE 0 END AS nww,
       |    CASE WHEN mi.m = mj.m THEN nt ELSE 0 END AS ntw,
       |    CASE WHEN mi.m <> mj.m THEN nw ELSE 0 END AS nwb,
       |    CASE WHEN mi.m <> mj.m THEN nt ELSE 0 END AS ntb
       |  FROM kag
       |  JOIN mmod mi ON mi.p = kag.i
       |  JOIN mmod mj ON mj.p = kag.j
       |)
       |SELECT i AS p, mi AS m,
       |  CAST(SUM(nww) AS BIGINT) AS w_pairs,
       |  CAST(SUM(ntw) AS BIGINT) AS w_together,
       |  CASE WHEN SUM(nww) > 0
       |    THEN round(CAST(SUM(ntw) AS DOUBLE) / SUM(nww), 6) END AS recruitment,
       |  CAST(SUM(nwb) AS BIGINT) AS b_pairs,
       |  CAST(SUM(ntb) AS BIGINT) AS b_together,
       |  CASE WHEN SUM(nwb) > 0
       |    THEN round(CAST(SUM(ntb) AS DOUBLE) / SUM(nwb), 6) END AS integration
       |FROM kagm
       |GROUP BY i, mi
       |ORDER BY p""".stripMargin

  // ---- q217: percolation / threshold-sensitivity sweep ---------------------
  // The analysis run before ANY thresholded graph claim (van Wijk et al.
  // 2010 PLoS ONE; Garrison et al. 2015 NeuroImage): sweep the edge
  // threshold τ and report, per τ, edge count, connected-node count,
  // component count (isolated parcels count as singletons), the giant
  // component's size, and its fraction of all parcels — the percolation
  // curve whose cliff marks where the network disintegrates. Components
  // come from the SAME keyed driver kernel as q196 (nbsComponentsCore:
  // one keyed pin, key k = τ·100, a fixed-point integer key; a min-label
  // fixed point per key), so correctness rides a hash-proven kernel.
  // τ·100/100 is a correctly-rounded IEEE division in both engines and
  // r_par is the shared 6-dp rounded column — no boundary ULP risk
  // beyond q168's own.
  //
  // Scale shape: the τ×pairs expansion is |τ|·NP²-bounded and pinned
  // once; the component state is |τ|·NP labels on the driver, q196's
  // class with |τ| = 7 keys instead of PermP. No window.

  private val percTaus = Seq(10L, 15L, 20L, 25L, 30L, 35L, 40L)

  private[graft] def percolationCore(pairs0: DataFrame): DataFrame = {
    val s = pairs0.sparkSession
    import s.implicits._
    val pe = pairs0.select("p1", "p2", "r_par").localCheckpoint()
    val parcels = pe.select(col("p1").as("p"))
      .union(pe.select(col("p2").as("p"))).distinct()
    val np = parcels.agg(count(lit(1)).as("np"))
    val taus = percTaus.toDF("k")
    val edges = pe.filter(col("r_par").isNotNull)
      .crossJoin(broadcast(taus))
      .filter(expr("r_par >= CAST(k AS DOUBLE) / 100"))
      .selectExpr("k", "p1 AS a", "p2 AS b")
      .localCheckpoint() // |τ|·NP²-bounded; components + edge counts
    val comp = nbsComponentsCore(edges)
    val sizes = comp.groupBy("k", "comp").agg(count(lit(1)).as("sz"))
    val stats = sizes.groupBy("k").agg(count(lit(1)).as("n_comp_conn"),
      max("sz").as("giant_sz0"), sum("sz").as("n_conn_nodes"))
    val ec = edges.groupBy("k").agg(count(lit(1)).as("n_edges"))
    taus
      .crossJoin(broadcast(np))
      .join(stats, Seq("k"), "left")
      .join(ec, Seq("k"), "left")
      .na.fill(0L, Seq("n_comp_conn", "giant_sz0", "n_conn_nodes", "n_edges"))
      .selectExpr("k AS tau_fp", "n_edges", "n_conn_nodes",
        "n_comp_conn + (np - n_conn_nodes) AS n_comp",
        "CASE WHEN np > 0 THEN greatest(giant_sz0, 1) ELSE CAST(0 AS BIGINT) END AS giant_sz",
        "CASE WHEN np > 0 THEN round(CAST(greatest(giant_sz0, 1) AS DOUBLE) / np, 6) END AS giant_frac")
      .orderBy("tau_fp")
  }

  def percolation(s: SparkSession, d: String): DataFrame =
    percolationCore(connectomeCore(centsSeries(s, d)))

  private def percolationSql: String =
    s"""WITH RECURSIVE $connectomeCtes,
       |ptaus AS (SELECT CAST(unnest([${percTaus.mkString(", ")}]) AS BIGINT) AS k),
       |pparcels AS (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe UNION ALL SELECT p2 AS p FROM pe)),
       |pnp AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pparcels),
       |edg AS MATERIALIZED (
       |  SELECT t.k, pe.p1 AS a, pe.p2 AS b FROM pe CROSS JOIN ptaus t
       |  WHERE pe.r_par IS NOT NULL AND pe.r_par >= CAST(t.k AS DOUBLE) / 100
       |),
       |syme AS (SELECT k, a, b FROM (
       |  SELECT k, a, b FROM edg UNION ALL SELECT k, b AS a, a AS b FROM edg)),
       |pnodes AS (SELECT DISTINCT k, a AS p FROM syme),
       |pwalk(k, a, b) AS (
       |  SELECT k, p AS a, p AS b FROM pnodes
       |  UNION
       |  SELECT w.k, w.a, s.b FROM pwalk w JOIN syme s ON s.k = w.k AND s.a = w.b
       |),
       |pcomp AS (SELECT k, a AS p, MIN(b) AS comp FROM pwalk GROUP BY k, a),
       |psizes AS (
       |  SELECT k, comp, CAST(count(*) AS BIGINT) AS sz FROM pcomp GROUP BY k, comp
       |),
       |pstats AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_comp_conn,
       |    CAST(MAX(sz) AS BIGINT) AS giant_sz0,
       |    CAST(SUM(sz) AS BIGINT) AS n_conn_nodes
       |  FROM psizes GROUP BY k
       |),
       |pec AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges FROM edg GROUP BY k)
       |SELECT t.k AS tau_fp, COALESCE(pec.n_edges, 0) AS n_edges,
       |  COALESCE(st.n_conn_nodes, 0) AS n_conn_nodes,
       |  COALESCE(st.n_comp_conn, 0) + (pnp.np - COALESCE(st.n_conn_nodes, 0)) AS n_comp,
       |  CASE WHEN pnp.np > 0
       |    THEN greatest(COALESCE(st.giant_sz0, 0), 1) ELSE 0 END AS giant_sz,
       |  CASE WHEN pnp.np > 0
       |    THEN round(CAST(greatest(COALESCE(st.giant_sz0, 0), 1) AS DOUBLE) / pnp.np, 6) END AS giant_frac
       |FROM ptaus t CROSS JOIN pnp
       |LEFT JOIN pstats st ON st.k = t.k
       |LEFT JOIN pec ON pec.k = t.k
       |ORDER BY tau_fp""".stripMargin

  private def eigenCentralitySql: String = {
    val steps = (1 to ecmSteps).map { i =>
      s"""ex$i AS (
         |  SELECT x.p, CAST(x.x + COALESCE(n.nx, 0) AS BIGINT) AS x
         |  FROM ex${i - 1} x LEFT JOIN (
         |    SELECT s.a AS p, SUM(xx.x) AS nx
         |    FROM esym s JOIN ex${i - 1} xx ON xx.p = s.b
         |    GROUP BY s.a) n ON n.p = x.p
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $connectomeCtes,
       |eparcels AS (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe UNION ALL SELECT p2 AS p FROM pe)),
       |eones AS (SELECT p1, p2 FROM pe WHERE edge = 1),
       |esym AS (SELECT a, b FROM (
       |  SELECT p1 AS a, p2 AS b FROM eones
       |  UNION ALL SELECT p2 AS a, p1 AS b FROM eones)),
       |ex0 AS (SELECT p, CAST(1 AS BIGINT) AS x FROM eparcels),
       |$steps,
       |emx AS (SELECT MAX(x) AS mx FROM ex$ecmSteps)
       |SELECT e.p, e.x AS ec_raw,
       |  CASE WHEN emx.mx > 0
       |    THEN round(CAST(e.x AS DOUBLE) / emx.mx, 6) END AS ec
       |FROM ex$ecmSteps e
       |CROSS JOIN emx
       |ORDER BY e.p""".stripMargin
  }

  def pathMetrics(s: SparkSession, d: String): DataFrame =
    pathMetricsCore(connectomePairs(centsSeries(s, d)))

  private def pathMetricsSql: String =
    // NOTE: under WITH RECURSIVE, DuckDB gives ANY top-level-UNION CTE
    // recursive base∪step semantics (no global dedup) — so the parcel and
    // symmetric-edge unions live inside subqueries, never at CTE top level.
    s"""WITH RECURSIVE $connectomeCtes,
       |parcels AS (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe UNION ALL SELECT p2 AS p FROM pe)),
       |ones AS (SELECT p1, p2 FROM pe WHERE edge = 1),
       |sym AS (SELECT a, b FROM (
       |  SELECT p1 AS a, p2 AS b FROM ones
       |  UNION ALL SELECT p2 AS a, p1 AS b FROM ones)),
       |walk(a, b, d) AS (
       |  SELECT a, b, CAST(1 AS BIGINT) AS d FROM sym
       |  UNION
       |  SELECT w.a, s.b, w.d + 1
       |  FROM walk w JOIN sym s ON s.a = w.b
       |  WHERE w.d < $connNP AND s.b <> w.a
       |),
       |dist AS (
       |  SELECT a, b, MIN(d) AS d FROM walk GROUP BY a, b
       |),
       |gstat AS (
       |  SELECT SUM(d) AS sd, CAST(COUNT(*) AS BIGINT) AS n_fin,
       |    SUM(CAST(round(1e12 / d, 0) AS BIGINT)) AS sr,
       |    (SELECT COUNT(*) FROM parcels) AS np
       |  FROM dist
       |),
       |perp AS (
       |  SELECT a AS p, MAX(d) AS ecc, CAST(COUNT(*) AS BIGINT) AS n_reach,
       |    SUM(CAST(round(1e12 / d, 0) AS BIGINT)) AS srp
       |  FROM dist GROUP BY a
       |)
       |SELECT parcels.p, perp.ecc,
       |  COALESCE(perp.n_reach, 0) AS n_reach,
       |  round(CAST(COALESCE(perp.srp, 0) AS DOUBLE) / (gstat.np - 1) / 1e12, 6) AS eff_p,
       |  CASE WHEN gstat.n_fin > 0
       |    THEN round(CAST(gstat.sd AS DOUBLE) / gstat.n_fin, 6) END AS cpl,
       |  round(CAST(gstat.sr AS DOUBLE) / (CAST(gstat.np AS DOUBLE) * (gstat.np - 1)) / 1e12, 6) AS eff_glob
       |FROM parcels LEFT JOIN perp ON perp.p = parcels.p CROSS JOIN gstat
       |ORDER BY parcels.p""".stripMargin

  // ---- q189: small-world index ---------------------------------------------
  // Humphries & Gurney 2008: σ = (C/C_rand)/(L/L_rand) — the one-number
  // segregation-vs-integration summary clinicians quote, composed from
  // the q173 clustering layer and the q184 path layer against the
  // Erdős–Rényi baselines C_rand = k̄/(n−1), L_rand = ln n / ln k̄.
  // Per-node clustering coefficients are 1e6-quantized before the mean
  // (sum order can never flip a digit); every other moment is integer.
  // Undefined guards: no deg≥2 node → NULL C; k̄ ≤ 1 → NULL L_rand → NULL σ.
  //
  // Scale shape: the q168 pair relation is computed ONCE and pinned
  // (NP²-bounded) and feeds both bounded layers; output is ONE row.

  /** One-row small-world summary from a q168-shaped pair relation. */
  private[graft] def smallWorldCore(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.localCheckpoint() // NP²-bounded; two graph layers read it
    val g = graphMetricsCore(pairs)
      .agg(count(lit(1)).as("np"),
        (sum("deg") / 2).cast("long").as("m"),
        sum(expr("CAST(round(c_coef * 1e6, 0) AS BIGINT)")).as("c_fp"),
        count(col("c_coef")).as("n_c"))
    val l = pathMetricsCore(pairs)
      .agg(max("cpl").as("l_obs"), max("eff_glob").as("eff_glob"))
    g.crossJoin(l)
      .selectExpr("np", "m",
        "round(CAST(2 AS DOUBLE) * m / np, 6) AS k_mean",
        "CASE WHEN n_c > 0 THEN round(CAST(c_fp AS DOUBLE) / n_c / 1e6, 6) END AS c_mean",
        "CASE WHEN np >= 2 THEN round(2.0 * m / (CAST(np AS DOUBLE) * (np - 1)), 6) END AS c_rand",
        "l_obs", "eff_glob",
        "CASE WHEN CAST(2 AS DOUBLE) * m / np > 1.0 THEN round(ln(CAST(np AS DOUBLE)) / ln(CAST(2 AS DOUBLE) * m / np), 6) END AS l_rand",
        "CASE WHEN n_c > 0 AND m > 0 AND l_obs > 0 AND CAST(2 AS DOUBLE) * m / np > 1.0 AND ln(CAST(2 AS DOUBLE) * m / np) > 0 THEN " +
          "round((CAST(c_fp AS DOUBLE) / n_c / 1e6) / (2.0 * m / (CAST(np AS DOUBLE) * (np - 1))) " +
          "/ (l_obs / (ln(CAST(np AS DOUBLE)) / ln(CAST(2 AS DOUBLE) * m / np))), 6) END AS sigma")
  }

  def smallWorld(s: SparkSession, d: String): DataFrame =
    smallWorldCore(connectomeCore(centsSeries(s, d)))

  private def smallWorldSql: String =
    s"""WITH RECURSIVE $connectomeCtes,
       |parcels AS (SELECT DISTINCT p FROM (
       |  SELECT p1 AS p FROM pe UNION ALL SELECT p2 AS p FROM pe)),
       |ones AS (SELECT p1, p2 FROM pe WHERE edge = 1),
       |deg AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM ones UNION ALL SELECT p2 AS p FROM ones
       |  ) GROUP BY p
       |),
       |tr AS (
       |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
       |  FROM ones e1
       |  JOIN ones e2 ON e2.p1 = e1.p2
       |  JOIN ones e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
       |),
       |tri AS (
       |  SELECT u.p, CAST(count(*) AS BIGINT) AS tri
       |  FROM tr, unnest([a, b, c]) AS u(p) GROUP BY u.p
       |),
       |cnode AS (
       |  SELECT parcels.p,
       |    CASE WHEN COALESCE(deg.deg, 0) >= 2
       |      THEN round(2.0 * COALESCE(tri.tri, 0) / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1)), 6) END AS c_coef
       |  FROM parcels
       |  LEFT JOIN deg ON deg.p = parcels.p
       |  LEFT JOIN tri ON tri.p = parcels.p
       |),
       |sym AS (SELECT a, b FROM (
       |  SELECT p1 AS a, p2 AS b FROM ones
       |  UNION ALL SELECT p2 AS a, p1 AS b FROM ones)),
       |walk(a, b, d) AS (
       |  SELECT a, b, CAST(1 AS BIGINT) AS d FROM sym
       |  UNION
       |  SELECT w.a, s.b, w.d + 1
       |  FROM walk w JOIN sym s ON s.a = w.b
       |  WHERE w.d < $connNP AND s.b <> w.a
       |),
       |dist AS (SELECT a, b, MIN(d) AS d FROM walk GROUP BY a, b),
       |gsum AS (
       |  SELECT CAST((SELECT count(*) FROM parcels) AS BIGINT) AS np,
       |    CAST((SELECT count(*) FROM ones) AS BIGINT) AS m,
       |    (SELECT SUM(CAST(round(c_coef * 1e6, 0) AS BIGINT)) FROM cnode) AS c_fp,
       |    CAST((SELECT count(c_coef) FROM cnode) AS BIGINT) AS n_c,
       |    (SELECT CASE WHEN count(*) > 0
       |       THEN round(CAST(SUM(d) AS DOUBLE) / count(*), 6) END FROM dist) AS l_obs,
       |    (SELECT round(CAST(SUM(CAST(round(1e12 / d, 0) AS BIGINT)) AS DOUBLE)
       |       / (CAST((SELECT count(*) FROM parcels) AS DOUBLE)
       |          * ((SELECT count(*) FROM parcels) - 1)) / 1e12, 6) FROM dist) AS eff_glob
       |)
       |SELECT np, m,
       |  round(CAST(2 AS DOUBLE) * m / np, 6) AS k_mean,
       |  CASE WHEN n_c > 0 THEN round(CAST(c_fp AS DOUBLE) / n_c / 1e6, 6) END AS c_mean,
       |  CASE WHEN np >= 2 THEN round(2.0 * m / (CAST(np AS DOUBLE) * (np - 1)), 6) END AS c_rand,
       |  l_obs, eff_glob,
       |  CASE WHEN CAST(2 AS DOUBLE) * m / np > 1.0 THEN round(ln(CAST(np AS DOUBLE)) / ln(CAST(2 AS DOUBLE) * m / np), 6) END AS l_rand,
       |  CASE WHEN n_c > 0 AND m > 0 AND l_obs > 0 AND CAST(2 AS DOUBLE) * m / np > 1.0 AND ln(CAST(2 AS DOUBLE) * m / np) > 0 THEN
       |    round((CAST(c_fp AS DOUBLE) / n_c / 1e6) / (2.0 * m / (CAST(np AS DOUBLE) * (np - 1)))
       |    / (l_obs / (ln(CAST(np AS DOUBLE)) / ln(CAST(2 AS DOUBLE) * m / np))), 6) END AS sigma
       |FROM gsum""".stripMargin

  // ---- q183: connectome fingerprinting ------------------------------------
  // Finn et al. 2015 (Nat Neurosci): functional connectomes are
  // individual-specific enough to IDENTIFY a subject — correlate each
  // subject's scan-A edge vector against every subject's scan-B edge
  // vector and predict the argmax. Here: sessions g (l_linenumber % GRuns)
  // are the "subjects"; the A/B scans split each session's draws by the
  // price-cents parity h (exact via DECIMAL — a key independent of the
  // t/x/y/z coordinate hashes). Edge vectors are 1e6-quantized r per
  // (g, h) under dense n = NT semantics; the identification correlation
  // runs over the edge set where BOTH scans have defined r, with a
  // data-dependent n_e. Output: the GRuns×GRuns identification matrix
  // with the per-row argmax (ties to the smallest candidate) and the
  // diagonal-hit verdict.
  //
  // Scale shape: ONE data-sized exchange (the (g, h)-keyed parcel-series
  // aggregate); moments, r, and the identification matrix are
  // GRuns·NP²-bounded; the argmax window partitions by ga over
  // GRuns²-sized rows. At atlas scale the edge vectors are the standing
  // per-scan artifact (NP²/2 rows each) a fingerprint service stores.

  private val fpIdRStr =
    "CASE WHEN (CAST(n_e AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0 " +
      "AND (CAST(n_e AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0 " +
      "THEN (CAST(n_e AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) / " +
      "(sqrt(CAST(n_e AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) * " +
      "sqrt(CAST(n_e AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) END"

  /** Per-(session, scan-half) quantized edge vectors (g, h, p1, p2, r_fp)
    * from a (g, h, t, x, y, z, v-cents) series — spec-plantable. */
  private[graft] def scanEdgeVectors(series: DataFrame): DataFrame = {
    val par = series
      .selectExpr("g", "h",
        s"CAST((x * 7 + y * 11 + z * 13) % $connNP AS INT) AS p", "t", "v")
      .groupBy("g", "h", "p", "t").agg(sum("v").as("pv"))
      .localCheckpoint()
    val a = par.selectExpr("g", "h", "p AS p1", "t", "pv AS pva")
    val b = par.selectExpr("g", "h", "p AS p2", "t", "pv AS pvb")
    a.join(b, Seq("g", "h", "t")).filter(col("p1") < col("p2"))
      .groupBy("g", "h", "p1", "p2")
      .agg(sum(expr("CAST(pva AS DECIMAL(38,0)) * pvb")).as("sab"),
        sum("pva").as("sa"), sum("pvb").as("sb"),
        sum(expr("CAST(pva AS DECIMAL(38,0)) * pva")).as("saa"),
        sum(expr("CAST(pvb AS DECIMAL(38,0)) * pvb")).as("sbb"))
      .selectExpr("g", "h", "p1", "p2",
        s"CAST(round(($connRStr) * 1e6, 0) AS BIGINT) AS r_fp")
      .filter(col("r_fp").isNotNull)
  }

  /** Identification matrix from (g, h, p1, p2, r_fp) edge vectors. */
  private[graft] def fingerprintCore(vectors: DataFrame): DataFrame =
    fingerprintMatch(vectors.filter(col("h") === 0),
      vectors.filter(col("h") === 1))

  /** Identification matrix from separate probe (scan-A) and gallery
    * (scan-B) edge-vector relations (g, p1, p2, r_fp) — the split q190's
    * standing gallery probes through. */
  private[graft] def fingerprintMatch(probe: DataFrame,
      gallery: DataFrame): DataFrame = {
    val s0 = probe.selectExpr("g AS ga", "p1", "p2", "r_fp AS ra")
    val s1 = gallery.selectExpr("g AS gb", "p1", "p2", "r_fp AS rb")
    val mat = s0.join(s1, Seq("p1", "p2"))
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("n_e"),
        sum("ra").as("sa"), sum("rb").as("sb"),
        sum(expr("CAST(ra AS DECIMAL(38,0)) * ra")).as("saa"),
        sum(expr("CAST(rb AS DECIMAL(38,0)) * rb")).as("sbb"),
        sum(expr("CAST(ra AS DECIMAL(38,0)) * rb")).as("sab"))
      .selectExpr("ga", "gb", "n_e", s"round($fpIdRStr, 6) AS r_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ga").orderBy(col("r_id").desc_nulls_last, col("gb").asc)
    mat
      .withColumn("best", row_number().over(w) === 1)
      .selectExpr("ga", "gb", "n_e", "r_id", "best",
        "best AND ga = gb AS correct")
      .orderBy("ga", "gb")
  }

  /** The (g, h, t, x, y, z, v) two-scans-per-session series feeding
    * q183 and q190. */
  private def fpSeries(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(
        (col("l_linenumber") % GRuns).cast("int").as("g"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").mod(2).cast("int").as("h"),
        ((col("l_orderkey") + col("l_linenumber") * 11) % NT).cast("int").as("t"),
        (col("l_orderkey") % L).cast("int").as("x"),
        (col("l_partkey") % L).cast("int").as("y"),
        (col("l_suppkey") % L).cast("int").as("z"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))

  def fingerprint(s: SparkSession, d: String): DataFrame =
    fingerprintCore(scanEdgeVectors(fpSeries(s, d)))

  // ---- q194: global-signal-regressed connectome ------------------------------
  // GSR — the other motion-mitigation protocol (Murphy & Fox 2017; q178
  // covered scrubbing): regress the global signal out of every parcel
  // series, then correlate residuals. Because regression is linear and
  // the design ([1, g]) is shared, residual correlation equals the
  // PARTIAL correlation given g — r_xy·g = (r_xy − r_xg·r_yg) /
  // √((1−r_xg²)(1−r_yg²)) — so the whole analysis stays CLOSED-FORM over
  // exact integer moments: no residual series is ever materialized, no
  // per-voxel betas leave the formula. g(t) = Σ_p pv(t) is itself an
  // exact integer series. Same edge/degree tail semantics as q168
  // (threshold the ROUNDED partial r at |r| ≥ 0.1).
  //
  // Scale shape: ONE data-sized exchange (the parcel-series aggregate,
  // pinned); g and the parcel-vs-g moments are NT- and NP-bounded; pair
  // moments NP²-bounded; the partial-r projection and degree fold are
  // broadcast-class. Undefined guards: any degenerate marginal
  // (zero-variance parcel or |r_xg| = 1 — a parcel that IS the global
  // signal) yields NULL r, never a fabricated edge.

  private val gsrPartialStr =
    "CASE WHEN r_xy IS NOT NULL AND r_xg IS NOT NULL AND r_yg IS NOT NULL " +
      "AND (1.0 - r_xg * r_xg) > 0 AND (1.0 - r_yg * r_yg) > 0 THEN " +
      "(r_xy - r_xg * r_yg) / (sqrt(1.0 - r_xg * r_xg) * sqrt(1.0 - r_yg * r_yg)) END"

  /** q194 body from a (t, x, y, z, v-cents) series — spec-plantable. */
  private[graft] def gsrConnectomeCore(series: DataFrame): DataFrame = {
    val par = series
      .selectExpr(s"CAST((x * 7 + y * 11 + z * 13) % $connNP AS INT) AS p",
        "t", "v")
      .groupBy("p", "t").agg(sum("v").as("pv"))
      .localCheckpoint()
    val g = par.groupBy("t").agg(sum("pv").as("gv"))
    val gm = g.agg(sum("gv").as("sg"),
      sum(expr("CAST(gv AS DECIMAL(38,0)) * gv")).as("sgg"))
    val pg = par.join(broadcast(g), Seq("t"))
      .groupBy("p")
      .agg(sum("pv").as("sx"),
        sum(expr("CAST(pv AS DECIMAL(38,0)) * pv")).as("sxx"),
        sum(expr("CAST(pv AS DECIMAL(38,0)) * gv")).as("sxg"))
      .crossJoin(broadcast(gm))
      .selectExpr("p",
        s"""CASE WHEN ($NT * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
           | AND ($NT * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) > 0
           |THEN ($NT * CAST(sxg AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sg AS DOUBLE)) /
           | (sqrt($NT * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
           |  sqrt($NT * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))) END AS r_pg""".stripMargin.replace("\n", " "))
    val a = par.selectExpr("p AS p1", "t", "pv AS pva")
    val b = par.selectExpr("p AS p2", "t", "pv AS pvb")
    val mom = a.join(b, Seq("t")).filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(sum(expr("CAST(pva AS DECIMAL(38,0)) * pvb")).as("sab"),
        sum("pva").as("sa"), sum("pvb").as("sb"),
        sum(expr("CAST(pva AS DECIMAL(38,0)) * pva")).as("saa"),
        sum(expr("CAST(pvb AS DECIMAL(38,0)) * pvb")).as("sbb"))
      .selectExpr("p1", "p2", s"$connRStr AS r_xy")
    val pairs = mom
      .join(broadcast(pg.selectExpr("p AS p1", "r_pg AS r_xg")), Seq("p1"))
      .join(broadcast(pg.selectExpr("p AS p2", "r_pg AS r_yg")), Seq("p2"))
      .selectExpr("p1", "p2", s"round($gsrPartialStr, 6) AS r_par")
      .selectExpr("p1", "p2", "r_par", s"$connEdgeStr AS edge")
      .localCheckpoint() // NP²-bounded; output + two degree reads
    val ones = pairs.filter(col("edge") === 1)
    val deg = ones.selectExpr("p1 AS p").union(ones.selectExpr("p2 AS p"))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    pairs
      .join(broadcast(deg.selectExpr("p AS p1", "deg AS deg_p1")), Seq("p1"), "left")
      .join(broadcast(deg.selectExpr("p AS p2", "deg AS deg_p2")), Seq("p2"), "left")
      .na.fill(0L, Seq("deg_p1", "deg_p2"))
      .select("p1", "p2", "r_par", "edge", "deg_p1", "deg_p2")
      .orderBy("p1", "p2")
  }

  def gsrConnectome(s: SparkSession, d: String): DataFrame =
    gsrConnectomeCore(centsSeries(s, d))

  private def gsrConnectomeSql: String =
    s"""WITH $centsSeriesCte,
       |par AS (
       |  SELECT CAST((x * 7 + y * 11 + z * 13) % $connNP AS INTEGER) AS p,
       |    t, SUM(v) AS pv
       |  FROM series GROUP BY 1, 2
       |),
       |gsig AS (SELECT t, SUM(pv) AS gv FROM par GROUP BY t),
       |ggm AS (
       |  SELECT SUM(gv) AS sg, SUM(CAST(gv AS HUGEINT) * gv) AS sgg FROM gsig
       |),
       |pgm AS (
       |  SELECT p, SUM(pv) AS sx, SUM(CAST(pv AS HUGEINT) * pv) AS sxx,
       |    SUM(CAST(pv AS HUGEINT) * gv) AS sxg
       |  FROM par JOIN gsig ON gsig.t = par.t
       |  GROUP BY p
       |),
       |pg AS (
       |  SELECT p,
       |    CASE WHEN ($NT * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
       |     AND ($NT * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) > 0
       |    THEN ($NT * CAST(sxg AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sg AS DOUBLE)) /
       |     (sqrt($NT * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
       |      sqrt($NT * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))) END AS r_pg
       |  FROM pgm CROSS JOIN ggm
       |),
       |gmom AS (
       |  SELECT a.p AS p1, b.p AS p2,
       |    SUM(CAST(a.pv AS HUGEINT) * b.pv) AS sab,
       |    SUM(a.pv) AS sa, SUM(b.pv) AS sb,
       |    SUM(CAST(a.pv AS HUGEINT) * a.pv) AS saa,
       |    SUM(CAST(b.pv AS HUGEINT) * b.pv) AS sbb
       |  FROM par a JOIN par b ON a.t = b.t AND a.p < b.p
       |  GROUP BY 1, 2
       |),
       |gpairs AS (
       |  SELECT p1, p2, round($gsrPartialStr, 6) AS r_par FROM (
       |    SELECT m.p1, m.p2, $connRStr AS r_xy, xg.r_pg AS r_xg, yg.r_pg AS r_yg
       |    FROM gmom m
       |    JOIN pg xg ON xg.p = m.p1
       |    JOIN pg yg ON yg.p = m.p2)
       |),
       |gpe AS (
       |  SELECT p1, p2, r_par, $connEdgeStr AS edge FROM gpairs
       |),
       |gdeg AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM gpe WHERE edge = 1
       |    UNION ALL
       |    SELECT p2 AS p FROM gpe WHERE edge = 1
       |  ) GROUP BY p
       |)
       |SELECT gpe.p1, gpe.p2, gpe.r_par, gpe.edge,
       |  CAST(COALESCE(d1.deg, 0) AS BIGINT) AS deg_p1,
       |  CAST(COALESCE(d2.deg, 0) AS BIGINT) AS deg_p2
       |FROM gpe
       |LEFT JOIN gdeg d1 ON d1.p = gpe.p1
       |LEFT JOIN gdeg d2 ON d2.p = gpe.p2
       |ORDER BY p1, p2""".stripMargin

  // ---- q192: edge-level test–retest reliability (ICC) -----------------------
  // Shrout & Fleiss ICC(2,1) per connectome edge — THE reliability
  // number reported before any fingerprinting/group claim (Noble et al.
  // 2019's meta-analytic target): a two-way random-effects ANOVA over
  // the GRuns×2 (session × scan) table of quantized edge values,
  // ICC = (MSR − MSE)/(MSR + (k−1)MSE + k(MSC − MSE)/n). Every sum of
  // squares comes from exact integer moments (S, Q, Σ row-sums²,
  // Σ col-sums²) over the 1e6-quantized r_fp cells; the ratio is one
  // shared double expression. Edges with an incomplete table (a scan's
  // r undefined) or a zero denominator report NULL — never a fabricated
  // reliability.
  //
  // Scale shape: one (g,h)-keyed series exchange (the q183 chain), then
  // three GRuns·NP²-bounded aggregates (cells, row sums, col sums)
  // joined at the NP²-bounded edge grain.

  private val iccN = GRuns // sessions (rows)
  private val iccK = 2 // scans (raters)

  /** ICC(2,1) per edge from (g, h, p1, p2, r_fp) cells — spec-plantable. */
  private[graft] def edgeIccCore(cells: DataFrame): DataFrame = {
    val n = iccN; val k = iccK
    val tot = cells.groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_cells"), sum("r_fp").as("s"),
        sum(expr("CAST(r_fp AS DECIMAL(38,0)) * r_fp")).as("q"))
    val rows = cells.groupBy("p1", "p2", "g")
      .agg(sum("r_fp").as("rs"))
      .groupBy("p1", "p2")
      .agg(sum(expr("CAST(rs AS DECIMAL(38,0)) * rs")).as("rg"))
    val cols = cells.groupBy("p1", "p2", "h")
      .agg(sum("r_fp").as("cs"))
      .groupBy("p1", "p2")
      .agg(sum(expr("CAST(cs AS DECIMAL(38,0)) * cs")).as("ch"))
    val nk = n * k
    val sst = s"(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / $nk)"
    val ssr = s"(CAST(rg AS DOUBLE) / $k - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / $nk)"
    val ssc = s"(CAST(ch AS DOUBLE) / $n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / $nk)"
    val msr = s"(($ssr) / ${n - 1})"
    val msc = s"(($ssc) / ${k - 1})"
    val mse = s"((($sst) - ($ssr) - ($ssc)) / ${(n - 1) * (k - 1)})"
    val den = s"(($msr) + ${k - 1} * ($mse) + $k * (($msc) - ($mse)) / $n)"
    tot.join(rows, Seq("p1", "p2")).join(cols, Seq("p1", "p2"))
      .selectExpr("p1", "p2", "n_cells",
        s"CASE WHEN n_cells = $nk AND ($den) <> 0 " +
          s"THEN round((($msr) - ($mse)) / ($den), 6) END AS icc21")
      .orderBy("p1", "p2")
  }

  def edgeIcc(s: SparkSession, d: String): DataFrame =
    edgeIccCore(scanEdgeVectors(fpSeries(s, d)))

  private def edgeIccSql: String = {
    val n = iccN; val k = iccK; val nk = n * k
    val sst = s"(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / $nk)"
    val ssr = s"(CAST(rg AS DOUBLE) / $k - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / $nk)"
    val ssc = s"(CAST(ch AS DOUBLE) / $n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / $nk)"
    val msr = s"(($ssr) / ${n - 1})"
    val msc = s"(($ssc) / ${k - 1})"
    val mse = s"((($sst) - ($ssr) - ($ssc)) / ${(n - 1) * (k - 1)})"
    val den = s"(($msr) + ${k - 1} * ($mse) + $k * (($msc) - ($mse)) / $n)"
    // the fps/fpar/fmom/vecs chain is the q183 oracle's, verbatim
    s"""WITH $fpVecsCtes,
       |tot AS (
       |  SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_cells,
       |    SUM(r_fp) AS s, SUM(CAST(r_fp AS HUGEINT) * r_fp) AS q
       |  FROM vecs GROUP BY 1, 2
       |),
       |rsum AS (
       |  SELECT p1, p2, SUM(CAST(rs AS HUGEINT) * rs) AS rg FROM (
       |    SELECT p1, p2, g, SUM(r_fp) AS rs FROM vecs GROUP BY 1, 2, 3
       |  ) GROUP BY 1, 2
       |),
       |csum AS (
       |  SELECT p1, p2, SUM(CAST(cs AS HUGEINT) * cs) AS ch FROM (
       |    SELECT p1, p2, h, SUM(r_fp) AS cs FROM vecs GROUP BY 1, 2, 3
       |  ) GROUP BY 1, 2
       |)
       |SELECT tot.p1, tot.p2, tot.n_cells,
       |  CASE WHEN tot.n_cells = $nk AND ($den) <> 0
       |    THEN round((($msr) - ($mse)) / ($den), 6) END AS icc21
       |FROM tot
       |JOIN rsum ON rsum.p1 = tot.p1 AND rsum.p2 = tot.p2
       |JOIN csum ON csum.p1 = tot.p1 AND csum.p2 = tot.p2
       |ORDER BY tot.p1, tot.p2""".stripMargin
  }

  // ---- q190: standing fingerprint gallery -----------------------------------
  // The q183 identification as a SERVICE: reference scans ENROLL over
  // time into a persisted gallery of quantized edge vectors
  // (graft.image.GalleryStore — the connectome member of the standing
  // family, completing store symmetry for the imaging modality the way
  // q156 did for betas), and each identification probes the standing
  // gallery: enroll work is scan-bounded (NP²/2 facts per scan, the
  // scan's series read once), probe work is |probe scans|·gallery-sized —
  // never a re-read of enrolled series. The ORACLE is the q183 SQL
  // verbatim: its hash match proves the two-stage enrollment (build +
  // append) ≡ the one-shot rebuild on the driver's own data (the
  // q90/q110/q119/q143/q156 precedent). Replays need no fingerprints:
  // edge vectors are deterministic facts keyed (g, p1, p2) that the
  // probe max-dedupes (the BetaStore contract).

  def standingFingerprint(s: SparkSession, d: String): DataFrame = {
    import graft.image.GalleryStore
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val name = s"graft_gallery_$tag"
    val loc = s"${sys.props("java.io.tmpdir")}/graft_gallery/$tag"
    if (!GalleryStore.storeMatches(s, name, d)) {
      // gallery = the h = 1 scans, enrolled in two stages to exercise
      // the append path on driver data
      val gal = scanEdgeVectors(fpSeries(s, d).filter(col("h") === 1))
        .localCheckpoint() // GRuns·NP²-bounded; split into two admissions
      GalleryStore.buildGallery(s, gal.filter(col("g") % 2 === 0), name,
        loc, datasetTag = s"$d:building")
      GalleryStore.enrollScans(s, gal.filter(col("g") % 2 === 1), name)
      import s.implicits._
      Seq(d).toDF("dataset_tag")
        .write.mode("overwrite").option("path", s"$loc/meta")
        .saveAsTable(s"${name}_meta")
    }
    fingerprintMatch(
      scanEdgeVectors(fpSeries(s, d).filter(col("h") === 0)),
      GalleryStore.galleryRelation(s, name))
  }

  /** The fps → fpar → fmom → vecs oracle chain (per-(session, scan)
    * quantized edge vectors) — shared verbatim by q183/q190 (the
    * identification tail) and q192 (the ICC tail). */
  private def fpVecsCtes: String =
    s"""fps AS (
       |  SELECT CAST(l_linenumber % $GRuns AS INTEGER) AS g,
       |         CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 2 AS INTEGER) AS h,
       |         CAST((l_orderkey + l_linenumber * 11) % $NT AS INTEGER) AS t,
       |         CAST(l_orderkey % $L AS INTEGER) AS x,
       |         CAST(l_partkey % $L AS INTEGER) AS y,
       |         CAST(l_suppkey % $L AS INTEGER) AS z,
       |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1, 2, 3, 4, 5, 6
       |),
       |fpar AS (
       |  SELECT g, h, CAST((x * 7 + y * 11 + z * 13) % $connNP AS INTEGER) AS p,
       |    t, SUM(v) AS pv
       |  FROM fps GROUP BY 1, 2, 3, 4
       |),
       |fmom AS (
       |  SELECT a.g, a.h, a.p AS p1, b.p AS p2,
       |    SUM(CAST(a.pv AS HUGEINT) * b.pv) AS sab,
       |    SUM(a.pv) AS sa, SUM(b.pv) AS sb,
       |    SUM(CAST(a.pv AS HUGEINT) * a.pv) AS saa,
       |    SUM(CAST(b.pv AS HUGEINT) * b.pv) AS sbb
       |  FROM fpar a JOIN fpar b ON a.g = b.g AND a.h = b.h AND a.t = b.t AND a.p < b.p
       |  GROUP BY 1, 2, 3, 4
       |),
       |vecs AS (
       |  SELECT g, h, p1, p2, r_fp FROM (
       |    SELECT g, h, p1, p2,
       |      CAST(round(($connRStr) * 1e6, 0) AS BIGINT) AS r_fp
       |    FROM fmom)
       |  WHERE r_fp IS NOT NULL
       |)""".stripMargin

  private def fingerprintSql: String =
    s"""WITH $fpVecsCtes,
       |mat AS (
       |  SELECT a.g AS ga, b.g AS gb, CAST(COUNT(*) AS BIGINT) AS n_e,
       |    SUM(a.r_fp) AS sa, SUM(b.r_fp) AS sb,
       |    SUM(CAST(a.r_fp AS HUGEINT) * a.r_fp) AS saa,
       |    SUM(CAST(b.r_fp AS HUGEINT) * b.r_fp) AS sbb,
       |    SUM(CAST(a.r_fp AS HUGEINT) * b.r_fp) AS sab
       |  FROM (SELECT * FROM vecs WHERE h = 0) a
       |  JOIN (SELECT * FROM vecs WHERE h = 1) b ON a.p1 = b.p1 AND a.p2 = b.p2
       |  GROUP BY 1, 2
       |),
       |scoredm AS (
       |  SELECT ga, gb, n_e, round($fpIdRStr, 6) AS r_id FROM mat
       |),
       |bests AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY ga
       |    ORDER BY r_id DESC NULLS LAST, gb ASC) AS rn
       |  FROM scoredm
       |)
       |SELECT ga, gb, n_e, r_id, rn = 1 AS best,
       |  rn = 1 AND ga = gb AS correct
       |FROM bests
       |ORDER BY ga, gb""".stripMargin

  // ---- q178: DVARS-scrubbed connectome ------------------------------------
  // Motion-robust q168 (Power et al. 2012's actual protocol): frames
  // whose GLOBAL signal jumps (|Δ global| > 2.5× the scan's median |Δ| —
  // the q159 spike rule transplanted to the volume domain, where the
  // censor signal must come from the scan itself) are censored with the
  // standard f−1..f+2 augmentation, and the connectome correlates only
  // the SURVIVING frames — so the moments carry a data-dependent n
  // (count per pair) instead of q168's dense NT. Every post-series
  // relation is NT- or NP²-bounded; the lag/censor windows run on the
  // NT-row global-signal relation (bounded — the q151 distinct-relation
  // class, not a data-sized window).

  private val scnNum =
    "(CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
  private val scnDenA =
    "(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
  private val scnDenB =
    "(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))"
  private val scnRStr =
    s"CASE WHEN $scnDenA > 0 AND $scnDenB > 0 " +
      s"THEN $scnNum / (sqrt($scnDenA) * sqrt($scnDenB)) END"
  private val scnSpikeStr = "CAST(dv AS DOUBLE) > 2.5 * med"

  def scrubbedConnectome(s: SparkSession, d: String): DataFrame =
    scrubbedConnectomeCore(centsSeries(s, d))

  /** The q178 body from a (t, x, y, z, v-cents) series — split out so
    * specs can plant spike frames and censored-frame garbage. */
  private[graft] def scrubbedConnectomeCore(series0: DataFrame): DataFrame = {
    // feeds the censor derivation AND the parcel moments — pin once
    val series = series0.localCheckpoint()
    val dv = series.groupBy("t").agg(sum("v").as("g"))
      .selectExpr("t", "abs(COALESCE(g - lag(g) OVER (ORDER BY t), 0)) AS dv")
    val keep = dv.crossJoin(broadcast(dv.agg(expr("percentile(dv, 0.5)").as("med"))))
      .selectExpr("t", s"CASE WHEN $scnSpikeStr THEN 1 ELSE 0 END AS spike")
      .selectExpr("t", "MAX(spike) OVER (ORDER BY t " +
        "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS censored")
      .filter(col("censored") === 0).select("t")
    val par = series.join(broadcast(keep), Seq("t"))
      .selectExpr(s"CAST((x * 7 + y * 11 + z * 13) % $connNP AS INT) AS p",
        "t", "v")
      .groupBy("p", "t").agg(sum("v").as("pv"))
      .localCheckpoint()
    val a = par.selectExpr("p AS p1", "t", "pv AS pva")
    val b = par.selectExpr("p AS p2", "t", "pv AS pvb")
    val mom = a.join(b, Seq("t")).filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_kept"),
        sum(expr("CAST(pva AS DECIMAL(38,0)) * pvb")).as("sab"),
        sum("pva").as("sa"), sum("pvb").as("sb"),
        sum(expr("CAST(pva AS DECIMAL(38,0)) * pva")).as("saa"),
        sum(expr("CAST(pvb AS DECIMAL(38,0)) * pvb")).as("sbb"))
      .withColumn("n", col("n_kept"))
    connectomeDegrees(connectomeThreshold(mom, scnRStr, Seq("n_kept")),
      Seq("n_kept"))
  }

  private def scrubbedConnectomeSql: String =
    s"""WITH $centsSeriesCte,
       |gsr AS (SELECT t, SUM(v) AS g FROM series GROUP BY t),
       |dvr AS (
       |  SELECT t, abs(COALESCE(g - LAG(g) OVER (ORDER BY t), 0)) AS dv FROM gsr
       |),
       |mdv AS (SELECT quantile_cont(dv, 0.5) AS med FROM dvr),
       |keepf AS (
       |  SELECT t FROM (
       |    SELECT t, MAX(spike) OVER (ORDER BY t
       |      ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS censored
       |    FROM (SELECT t, CASE WHEN $scnSpikeStr THEN 1 ELSE 0 END AS spike
       |          FROM dvr CROSS JOIN mdv))
       |  WHERE censored = 0
       |),
       |par AS (
       |  SELECT CAST((x * 7 + y * 11 + z * 13) % $connNP AS INTEGER) AS p,
       |    s.t, SUM(v) AS pv
       |  FROM series s JOIN keepf USING (t) GROUP BY 1, 2
       |),
       |mom AS (
       |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n,
       |    SUM(CAST(a.pv AS HUGEINT) * b.pv) AS sab,
       |    SUM(a.pv) AS sa, SUM(b.pv) AS sb,
       |    SUM(CAST(a.pv AS HUGEINT) * a.pv) AS saa,
       |    SUM(CAST(b.pv AS HUGEINT) * b.pv) AS sbb
       |  FROM par a JOIN par b ON a.t = b.t AND a.p < b.p
       |  GROUP BY 1, 2
       |),
       |pe AS (
       |  SELECT p1, p2, n AS n_kept, r_par, $connEdgeStr AS edge
       |  FROM (SELECT p1, p2, n, round($scnRStr, 6) AS r_par FROM mom)
       |),
       |deg AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT p1 AS p FROM pe WHERE edge = 1
       |    UNION ALL
       |    SELECT p2 AS p FROM pe WHERE edge = 1
       |  ) GROUP BY p
       |)
       |SELECT pe.p1, pe.p2, pe.n_kept, pe.r_par, pe.edge,
       |  CAST(COALESCE(d1.deg, 0) AS BIGINT) AS deg_p1,
       |  CAST(COALESCE(d2.deg, 0) AS BIGINT) AS deg_p2
       |FROM pe
       |LEFT JOIN deg d1 ON d1.p = pe.p1
       |LEFT JOIN deg d2 ON d2.p = pe.p2
       |ORDER BY p1, p2""".stripMargin

  // ---- q169: one-pass resting-state panel --------------------------------
  // The analytical fan-in for the volume maps (the q162/q164 one-pass
  // lesson applied to the resting-state family): mean image, seed FC
  // (q158), ReHo (q163), and VMHC (q167) computed from ONE shared series
  // scan and joined into a single per-voxel QC panel — what a real
  // pipeline writes per subject per session. Naively that is four
  // data-sized scans; here the cents series is pinned once and every
  // consumer is VOLUME-bounded, so the panel costs one exchange plus
  // bounded arithmetic.
  //
  // Semantics are exactly the standalone queries' (the cores are reused,
  // and the oracle reuses their CTE strings verbatim — only the final
  // r-projection CTEs are renamed to coexist); the spec pins panel ≡
  // standalone maps row-for-row. VMHC re-enters at voxel grain (each
  // voxel carries its mirror pair's symmetric r). Grid-absent voxels
  // carry mean 0 and NULL r/W (dense zero-series semantics).

  private def panelMeanStr =
    s"round(CAST(COALESCE(sv, 0) AS DOUBLE) / 100 / $NT, 6) AS mean_v"

  def restingPanel(s: SparkSession, d: String): DataFrame =
    restingPanelCore(s, centsSeries(s, d))

  /** The q169 body from a (t, x, y, z, v-cents) series — split out so
    * specs can pin panel ≡ standalone maps. */
  private[graft] def restingPanelCore(s: SparkSession, series0: DataFrame): DataFrame = {
    // THE one data-sized exchange; the four map cores re-pin this bounded
    // relation locally (cheap: it is already materialized)
    val series = series0.localCheckpoint()
    val mean = series.groupBy("x", "y", "z").agg(sum("v").as("sv"))
    val fc = seedConnectivityCore(series).selectExpr("x", "y", "z", "r_seed")
    val rh = rehoCore(s, series).selectExpr("x", "y", "z", "w AS reho_w")
    val vm0 = vmhcCore(series).selectExpr("x", "y", "z", "r_vmhc")
    val vm = vm0.union(vm0.selectExpr(s"${L - 1} - x AS x", "y", "z", "r_vmhc"))
      .selectExpr("x", "y", "z", "r_vmhc AS vmhc_r")
    rh.join(fc, Seq("x", "y", "z"), "left")
      .join(vm, Seq("x", "y", "z"), "left")
      .join(mean, Seq("x", "y", "z"), "left")
      .selectExpr("x", "y", "z", panelMeanStr, "r_seed", "reho_w", "vmhc_r")
      .orderBy("x", "y", "z")
  }

  private def restingPanelSql: String =
    s"""WITH $seedSeriesCtes,
       |$seedFcMomentCtes,
       |sfr AS (
       |  SELECT x, y, z, n_t, $fcRStr AS r FROM pv CROSS JOIN sm
       |),
       |$rehoBodyCtes,
       |$vmhcBodyCtes,
       |vmr AS (
       |  SELECT xp AS x, y, z, $vmhcRStr AS r FROM mom
       |),
       |vmv AS (
       |  SELECT x, y, z, r FROM vmr
       |  UNION ALL
       |  SELECT ${L - 1} - x AS x, y, z, r FROM vmr
       |),
       |mim AS (
       |  SELECT x, y, z, SUM(v) AS sv FROM series GROUP BY 1, 2, 3
       |)
       |SELECT svar.x, svar.y, svar.z,
       |  $panelMeanStr,
       |  round(sfr.r, 6) AS r_seed,
       |  round($rehoWStr, 6) AS reho_w,
       |  round(vmv.r, 6) AS vmhc_r
       |FROM svar
       |JOIN tusum ON tusum.x = svar.x AND tusum.y = svar.y AND tusum.z = svar.z
       |LEFT JOIN sfr ON sfr.x = svar.x AND sfr.y = svar.y AND sfr.z = svar.z
       |LEFT JOIN vmv ON vmv.x = svar.x AND vmv.y = svar.y AND vmv.z = svar.z
       |LEFT JOIN mim ON mim.x = svar.x AND mim.y = svar.y AND mim.z = svar.z
       |ORDER BY svar.x, svar.y, svar.z""".stripMargin

  // ---- q163: regional homogeneity (ReHo — Kendall's W over the stencil) --
  // The third classic resting-state map next to ALFF (q146) and seed FC
  // (q158): per voxel, Kendall's coefficient of concordance W of the
  // time-series RANKS across its 27-neighborhood (Zang et al. 2004),
  // tie-corrected — W = 12·S / (m²(n³−n) − m·ΣTᵤ) with S the variance
  // sum of the per-TR rank totals, m the in-grid neighborhood size, and
  // Tᵤ = Σ(tₑ³−tₑ) over each neighbor's tie groups.
  //
  // Determinism WITHOUT fixed-point machinery: tie-averaged ranks are
  // exact halves (RANK() + (n_eq−1)/2), per-TR rank totals are sums of
  // ≤27 halves, and S sums squares bounded by (27·30·31)² ≪ 2⁵³ — every
  // intermediate is exactly representable, so double addition is
  // associative here and partition order cannot change a bit. Both
  // engines share the final W expression string.
  //
  // Scale shape: ONE data-sized aggregate (lineitem → the voxel series);
  // the dense grid, ranks, tie terms, and the 27× stencil expansion are
  // all VOLUME-bounded (L³·NT rows) — ReHo's cost is independent of the
  // input size past the first exchange, exactly like the q37/q51 stencil
  // family. Rank windows partition by voxel; no global window.

  private val rehoDenStr =
    s"(CAST(m AS DOUBLE) * m * ${NT * NT * NT - NT} - m * sum_tu)"
  // S = Σ(Rₜ − m(n+1)/2)² in moment form (Σrt², Σrt are exact sums of
  // exact quarters/halves, so the expansion is bit-stable)
  private val rehoSVarStr =
    s"(srt2 - 2.0 * (m * ${(NT + 1) / 2.0}) * srt " +
      s"+ $NT * (m * ${(NT + 1) / 2.0}) * (m * ${(NT + 1) / 2.0}))"
  private val rehoWStr =
    s"CASE WHEN $rehoDenStr > 0 THEN 12.0 * $rehoSVarStr / $rehoDenStr END"

  def reho(s: SparkSession, d: String): DataFrame =
    rehoCore(s, centsSeries(s, d))

  /** The q163 body from a (t, x, y, z, v-cents) series — split out so
    * specs can plant neighborhoods.
    *
    * Executes as ImageOps.blockLocalRehoMoments (r21: ONE blockId exchange
    * + partition-local ranks/ties/stencil over primitive arrays) instead of
    * the former declarative chain (dense-grid join → two voxel-partitioned
    * rank windows → 27× stencil cross-join fan-out → three aggregates —
    * ~6 exchanges). Bit-identical by exactness: the kernel emits the exact
    * integer/half/quarter moment columns and this projection applies the
    * SAME rehoWStr expression both engines share.
    * (r20 note kept for the record: a separable 3-pass box fold was tried
    * on the declarative form and MEASURED SLOWER — three groupBy exchanges
    * cost more than the single 27× fan-out at this volume. The block+halo
    * form removes the fan-out exchange entirely instead.) */
  private[graft] def rehoCore(s: SparkSession, sparse: DataFrame): DataFrame =
    ImageOps.blockLocalRehoMoments(s, sparse, L, NT, blockSize = 8)
      .selectExpr("x", "y", "z", "CAST(m AS BIGINT) AS m",
        s"round($rehoWStr, 6) AS w")
      .orderBy("x", "y", "z")

  /** The q163 body CTEs (dense grid → ranks/ties → stencil moments),
    * shared with the q169 panel; ends at svar/tusum, the caller selects
    * the W projection. */
  private def rehoBodyCtes: String =
    s"""grid AS (
       |  SELECT xs.x, ys.y, zs.z, ts.t
       |  FROM generate_series(0, ${L - 1}) AS xs(x),
       |       generate_series(0, ${L - 1}) AS ys(y),
       |       generate_series(0, ${L - 1}) AS zs(z),
       |       generate_series(0, ${NT - 1}) AS ts(t)
       |),
       |dense AS (
       |  SELECT grid.x, grid.y, grid.z, grid.t, COALESCE(series.v, 0) AS v
       |  FROM grid LEFT JOIN series ON series.x = grid.x AND series.y = grid.y
       |    AND series.z = grid.z AND series.t = grid.t
       |),
       |ranks AS (
       |  SELECT x, y, z, t,
       |    RANK() OVER (PARTITION BY x, y, z ORDER BY v)
       |      + (COUNT(*) OVER (PARTITION BY x, y, z, v) - 1) / 2.0 AS r
       |  FROM dense
       |),
       |ties AS (
       |  SELECT x, y, z, SUM(CAST(n_eq AS DOUBLE) * n_eq * n_eq - n_eq) AS tu
       |  FROM (SELECT x, y, z, v, COUNT(*) AS n_eq FROM dense GROUP BY 1, 2, 3, 4)
       |  GROUP BY x, y, z
       |),
       |offsets AS (
       |  SELECT dxs.dx, dys.dy, dzs.dz
       |  FROM generate_series(-1, 1) AS dxs(dx),
       |       generate_series(-1, 1) AS dys(dy),
       |       generate_series(-1, 1) AS dzs(dz)
       |),
       |rt AS (
       |  SELECT ranks.x + dx AS x, ranks.y + dy AS y, ranks.z + dz AS z, t,
       |    SUM(r) AS rt, COUNT(*) AS m
       |  FROM ranks CROSS JOIN offsets
       |  WHERE ranks.x + dx BETWEEN 0 AND ${L - 1}
       |    AND ranks.y + dy BETWEEN 0 AND ${L - 1}
       |    AND ranks.z + dz BETWEEN 0 AND ${L - 1}
       |  GROUP BY 1, 2, 3, 4
       |),
       |svar AS (
       |  SELECT x, y, z,
       |    SUM(rt * rt) AS srt2, SUM(rt) AS srt,
       |    MAX(m) AS m
       |  FROM rt GROUP BY x, y, z
       |),
       |tusum AS (
       |  SELECT ties.x + dx AS x, ties.y + dy AS y, ties.z + dz AS z,
       |    SUM(tu) AS sum_tu
       |  FROM ties CROSS JOIN offsets
       |  WHERE ties.x + dx BETWEEN 0 AND ${L - 1}
       |    AND ties.y + dy BETWEEN 0 AND ${L - 1}
       |    AND ties.z + dz BETWEEN 0 AND ${L - 1}
       |  GROUP BY 1, 2, 3
       |)""".stripMargin

  private val rehoSql =
    s"""WITH $centsSeriesCte,
       |$rehoBodyCtes
       |SELECT svar.x, svar.y, svar.z, CAST(m AS BIGINT) AS m,
       |  round($rehoWStr, 6) AS w
       |FROM svar JOIN tusum ON tusum.x = svar.x AND tusum.y = svar.y
       |  AND tusum.z = svar.z
       |ORDER BY svar.x, svar.y, svar.z""".stripMargin

  // ---- q41: catalog entity extraction (BIDS-path analog) -----------------

  def entityCatalog(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(concat(
        lit("sub-"), lpad((col("user_id") % 50).cast("string"), 3, "0"),
        lit("/func/task-"), col("event_type"),
        lit("_run-"), (col("event_id") % 4).cast("string"),
        lit("_bold.nii.gz")).as("path"))
      .select(
        regexp_extract(col("path"), "sub-([0-9]+)", 1).as("subject"),
        regexp_extract(col("path"), "task-([a-z]+)_", 1).as("task"),
        regexp_extract(col("path"), "run-([0-9]+)", 1).cast("int").as("run"),
      )
      .filter(col("task").isin("click", "view") && col("run") === 2)
      .groupBy("subject")
      .agg(count(lit(1)).as("n_files"))
      .orderBy("subject")

  private val entityCatalogSql =
    """WITH cat AS (
      |  SELECT 'sub-' || lpad(CAST(user_id % 50 AS VARCHAR), 3, '0') ||
      |         '/func/task-' || event_type ||
      |         '_run-' || CAST(event_id % 4 AS VARCHAR) || '_bold.nii.gz' AS path
      |  FROM events
      |), ent AS (
      |  SELECT regexp_extract(path, 'sub-([0-9]+)', 1) AS subject,
      |         regexp_extract(path, 'task-([a-z]+)_', 1) AS task,
      |         CAST(regexp_extract(path, 'run-([0-9]+)', 1) AS INTEGER) AS run
      |  FROM cat
      |)
      |SELECT subject, COUNT(*) AS n_files
      |FROM ent
      |WHERE task IN ('click', 'view') AND run = 2
      |GROUP BY subject
      |ORDER BY subject""".stripMargin

  // ---- q142: cluster-extent thresholding ---------------------------------
  // The fMRI "cluster correction" step after any voxelwise stat map
  // (FSL `cluster`, AFNI 3dClusterize): suprathreshold voxels grouped by
  // 6-connectivity, reported per cluster with extent, mass, and peak.
  // Threshold is RELATIVE (value > 21/20 of the grid mean) and compared
  // by exact-DECIMAL cross-multiplication (value·20·n > 21·Σvalue), so
  // no float boundary exists in either engine. Components run on the
  // SAME ccLabels propagation q66/q107 use, over a vertex set bounded at
  // L³ regardless of input size (the grid regime: data scales, the
  // volume doesn't); the oracle recomputes them with the recursive
  // reachability CTE. Isolated suprathreshold voxels survive as
  // singleton clusters via the left join.

  def clusterExtent(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = ImageOps.voxelGrid(lineitem(s, d), L)
    val tot = grid.agg(sum(col("value_dec")).as("tv"), count(lit(1)).as("nc"))
    // the ONE data-sized pass: grid aggregation (map-side combined);
    // everything below touches <= L³ rows, materialized once
    val supra = grid.crossJoin(broadcast(tot))
      .filter(expr("value_dec * 20 * nc > 21 * tv"))
      .select((col("x") * L * L + col("y") * L + col("z")).cast("long").as("vid"),
        col("value_dec"))
      .localCheckpoint()
    // components on the driver: the vertex set is VOLUME-bounded (L³
    // cells no matter how much data filled them) — model-sized state,
    // the centroid/design-matrix regime, not data-sized. A distributed
    // propagation here pays ~log(diameter) Spark jobs for a 4096-row
    // graph (measured 5.5 s -> this form 1 job); ccLabels remains the
    // DATA-sized component path (q66/q107), equality spec-pinned.
    val labels = clusterLabels(supra.select("vid").collect().map(_.getLong(0)))
    val labDf = labels.toSeq.toDF("vid", "cluster")
    supra
      .join(broadcast(labDf), Seq("vid"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_voxels"),
        sum(col("value_dec")).cast("double").as("mass"),
        max(col("value_dec")).cast("double").as("peak"))
      .orderBy("cluster")
  }

  /** Driver union-find over the present voxel ids, 6-connectivity decoded
    * from the vid encoding; union-by-min keeps every root the component's
    * minimum vid, so labels equal the ccLabels min-label fixpoint. */
  private[graft] def clusterLabels(vids: Array[Long]): Map[Long, Long] = {
    val present = vids.toSet
    val parent = scala.collection.mutable.HashMap(vids.map(v => v -> v): _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var c = v
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
    }
    for (v <- vids) {
      val x = v / (L * L); val y = (v / L) % L; val z = v % L
      if (x + 1 < L && present.contains(v + L * L)) union(v, v + L * L)
      if (y + 1 < L && present.contains(v + L)) union(v, v + L)
      if (z + 1 < L && present.contains(v + 1)) union(v, v + 1)
    }
    vids.map(v => v -> find(v)).toMap
  }

  private val clusterExtentSql =
    s"""WITH RECURSIVE $duckGrid,
       |tot AS (SELECT SUM(value_dec) AS tv, COUNT(*) AS nc FROM grid),
       |supra AS (
       |  SELECT x*${L * L} + y*$L + z AS vid, x, y, z, value_dec
       |  FROM grid CROSS JOIN tot
       |  WHERE value_dec * 20 * nc > 21 * tv
       |),
       |e AS (
       |  SELECT a.vid AS src, b.vid AS dst FROM supra a JOIN supra b ON
       |    (b.x = a.x + 1 AND b.y = a.y AND b.z = a.z) OR
       |    (b.x = a.x AND b.y = a.y + 1 AND b.z = a.z) OR
       |    (b.x = a.x AND b.y = a.y AND b.z = a.z + 1)
       |),
       |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |reach(v, m) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.m FROM sym s JOIN reach r ON r.v = s.dst
       |),
       |lbl AS (SELECT v, MIN(m) AS cluster FROM reach GROUP BY v),
       |cl AS (
       |  SELECT s.vid, COALESCE(l.cluster, s.vid) AS cluster, s.value_dec
       |  FROM supra s LEFT JOIN lbl l ON l.v = s.vid
       |)
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_voxels,
       |  CAST(SUM(value_dec) AS DOUBLE) AS mass,
       |  CAST(MAX(value_dec) AS DOUBLE) AS peak
       |FROM cl GROUP BY cluster
       |ORDER BY cluster""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q142_cluster_extent", clusterExtent, Some(clusterExtentSql)),
    Q("q34_dct_poly", dctPoly, Some(dctPolySql)),
    Q("q35_hrf_convolve", hrfConvolve, Some(hrfConvolveSql)),
    Q("q36_voxel_mask", voxelMask, Some(voxelMaskSql)),
    Q("q37_stencil_mode", stencilMode, Some(stencilModeSql)),
    Q("q51_stencil_block", stencilBlock, Some(stencilModeSql)),
    Q("q38_smooth", smooth, Some(smoothSql)),
    Q("q61_smooth_fwhm", smoothFwhm, Some(smoothFwhmSql)),
    Q("q71_smooth_block", smoothBlock, Some(smoothFwhmSql)),
    Q("q73_smooth_binom_block", smoothBinomBlock, Some(smoothSql)),
    Q("q72_mean_image", meanImage, Some(meanImageSql)),
    Q("q63_resample_affine", resampleAffine, Some(resampleAffineSql)),
    Q("q132_resample_trilinear", resampleTrilinear, Some(resampleTrilinearSql)),
    Q("q134_resample_padded", resampleTrilinearPadded, Some(resampleTrilinearPaddedSql)),
    Q("q39_slice_means", sliceMeans, Some(sliceMeansSql)),
    Q("q64_global_signal", globalSignal, Some(globalSignalSql)),
    Q("q158_seed_connectivity", seedConnectivity, Some(seedConnectivitySql)),
    Q("q166_ppi_glm", ppiGlm, Some(ppiGlmSql)),
    Q("q167_vmhc", vmhc, Some(vmhcSql)),
    Q("q168_connectome", connectome, Some(connectomeSql)),
    Q("q173_graph_metrics", graphMetrics, Some(graphMetricsSql)),
    Q("q178_scrubbed_connectome", scrubbedConnectome, Some(scrubbedConnectomeSql)),
    Q("q182_edge_inference", edgeInference, Some(edgeInferenceSql)),
    Q("q196_nbs_components", nbsComponents, Some(nbsComponentsSql)),
    Q("q183_fingerprint", fingerprint, Some(fingerprintSql)),
    Q("q190_standing_fingerprint", standingFingerprint, Some(fingerprintSql)),
    Q("q192_edge_icc", edgeIcc, Some(edgeIccSql)),
    Q("q194_gsr_connectome", gsrConnectome, Some(gsrConnectomeSql)),
    Q("q184_path_metrics", pathMetrics, Some(pathMetricsSql)),
    Q("q199_path_metrics_bfs", pathMetricsBfs, Some(pathMetricsSql)),
    Q("q203_eigen_centrality", eigenCentrality, Some(eigenCentralitySql)),
    Q("q204_module_roles", moduleRoles, Some(moduleRolesSql)),
    Q("q208_module_lpa", moduleLpa, Some(moduleLpaSql)),
    Q("q212_modularity_q", modularityQ, Some(modularityQSql)),
    Q("q225_modularity_louvain", modularityLouvain, Some(modularityLouvainSql)),
    Q("q239_louvain_multilevel", modularityLouvainMulti, Some(modularityLouvainMultiSql)),
    Q("q240_betweenness", betweenness, Some(betweennessSql)),
    Q("q247_betweenness_weighted", betweennessWeighted, Some(betweennessWeightedSql)),
    Q("q241_dfc_flexibility", dfcFlexibility, Some(dfcFlexibilitySql)),
    Q("q256_module_allegiance", moduleAllegiance, Some(moduleAllegianceSql)),
    Q("q257_recruitment", recruitment, Some(recruitmentSql)),
    Q("q226_modularity_weighted", modularityWeighted, Some(modularityWeightedSql)),
    Q("q227_rich_club_weighted", richClubWeighted, Some(richClubWeightedSql)),
    Q("q228_assortativity_strength", assortativityWeighted, Some(assortativityWeightedSql)),
    Q("q213_rich_club", richClub, Some(richClubSql)),
    Q("q214_assortativity", assortativity, Some(assortativitySql)),
    Q("q215_coreness", coreness, Some(corenessSql)),
    Q("q217_percolation", percolation, Some(percolationSql)),
    Q("q218_attack_robustness", attackRobustness, Some(attackSql)),
    Q("q223_dynamic_connectivity", dynamicConnectivity, Some(dynamicConnectivitySql)),
    Q("q229_dfc_states", dfcStates, Some(dfcStatesSql)),
    Q("q230_modularity_wlouvain", modularityWeightedLouvain, Some(modularityWeightedLouvainSql)),
    Q("q231_dfc_transitions", dfcTransitions, Some(dfcTransitionsSql)),
    Q("q236_module_stability", dfcModuleStability, Some(dfcModuleStabilitySql)),
    Q("q232_weighted_clustering", weightedClustering, Some(weightedClusteringSql)),
    Q("q234_path_metrics_weighted", pathMetricsWeighted, Some(pathMetricsWeightedSql)),
    Q("q189_small_world", smallWorld, Some(smallWorldSql)),
    Q("q169_resting_panel", restingPanel, Some(restingPanelSql)),
    Q("q163_reho", reho, Some(rehoSql)),
    Q("q40_resample", resample, Some(resampleSql)),
    Q("q41_entity_catalog", entityCatalog, Some(entityCatalogSql)),
  )
}
