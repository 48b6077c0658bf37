package graft.design

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.Loops

/** Design-matrix construction operators (SURVEY.md §2.5, E1 lifecycle).
  * The reference builds a (time × regressor) Design_Matrix from trial events
  * (nltools `onsets_to_dm`, ssm_loop.py:43). The trial scan and the hit
  * aggregate are distributed; everything after them is TR-bounded (n
  * samples × conditions) and runs as exact driver kernels over one
  * folded result.
  */
object DesignOps {

  /** TR-sampled timeline: one row per sample index 0..n-1, plus the sample
    * time in seconds. Generated with explode(sequence) on a 1-row relation —
    * single partition, trivially broadcastable (SURVEY.md §4 "timeline
    * generation").
    */
  def timeline(spark: SparkSession, n: Int, trSeconds: Double): DataFrame =
    spark
      .range(1)
      .select(explode(sequence(lit(0L), lit(n - 1L))).as("t"))
      .withColumn("sec", col("t") * trSeconds)

  /** Boxcar expansion (nltools onsets_to_dm semantics, ssm_loop.py:43):
    * indicator(t, c) = 1 iff some trial of condition c satisfies
    * onset <= t*TR < onset + duration, t in [0, n). `trials` has columns
    * (onset, duration: double seconds, trial_type: string); a NULL onset or
    * duration covers nothing. Output: a driver-local (t, c…) BIGINT
    * relation in t order.
    *
    * Each trial explodes only its candidate TR range (±1 bucket of slack
    * so double rounding never DROPS a predicate-true pair), the exact
    * predicate filters the boundary and a [[Loops.fold]] keeps the
    * distinct (t, condition) hits: O(|trials|·dur/TR) rows in, at most
    * n·|conditions| out per partition and after the merge — one job, no
    * exchange (over `cap` it fails naming the site) — laid onto the
    * timeline on the driver.
    *
    * A driver-local relation scans as one task per core, so a query that
    * writes one out ends in `coalesce(1)`: one file, 90–96 ms against
    * 104–110 ms for four (q35, sf0.01, local[4]). The kernels' own
    * relations stay LocalRelations, so a pin over them runs no job. */
  def boxcar(trials: DataFrame, conditions: Seq[String], trSeconds: Double,
      n: Int, cap: Int = Loops.PinMaxRows): DataFrame = {
    val hits = trials
      .filter(col("trial_type").isin(conditions: _*))
      .withColumn("__t0", greatest(floor(col("onset") / trSeconds).cast("long"), lit(0L)))
      .withColumn("__t1",
        least(floor((col("onset") + col("duration")) / trSeconds).cast("long") + 1, lit(n - 1L)))
      .filter(col("__t0") <= col("__t1"))
      .select(explode(sequence(col("__t0"), col("__t1"))).as("t"),
        col("onset"), col("duration"), col("trial_type"))
      .filter(col("onset") <= col("t") * trSeconds &&
        col("t") * trSeconds < col("onset") + col("duration"))
    // the fill: every t the hits miss is 0 (each hit's t is in [0, n))
    val cond = conditions.zipWithIndex.toMap
    val x = Array.fill(conditions.size, n)(0L)
    for (r <- Loops.foldedRows(hits, Seq("t", "trial_type"), Nil,
        "DesignOps.boxcar", cap))
      x(cond(r.getString(1)))(r.getLong(0).toInt) = 1L
    timeRelation(trials.sparkSession, conditions, n)(t => x.map(_(t)).toSeq)
  }

  /** A driver-local (t BIGINT, `cols`… BIGINT) relation, one row per t in
    * [0, n) in t order, `cells(t)` filling row t's columns. */
  private def timeRelation(spark: SparkSession, cols: Seq[String], n: Int)(
      cells: Int => Seq[Long]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList((0 until n).map(t => Row.fromSeq(t.toLong +: cells(t))): _*),
      StructType((StructField("t", LongType, nullable = false) +:
        cols.map(StructField(_, LongType, nullable = false)))))

  /** DCT high-pass basis (nltools add_dct_basis, ssm_loop.py:55): appends
    * cosine regressors dct_k(t) = cos(π·k·(2t+1)/(2N)) for k = 1..K.
    * Pure projection — no shuffle (SURVEY.md W5). Values rounded to 6
    * decimals in query outputs only; the op itself keeps full precision.
    */
  def dctBasis(dm: DataFrame, n: Int, k: Int): DataFrame =
    (1 to k).foldLeft(dm) { (acc, kk) =>
      acc.withColumn(s"dct$kk",
        cos(lit(math.Pi * kk) * (col("t") * 2 + 1) / lit(2.0 * n)))
    }

  /** Polynomial trend columns (nltools add_poly, ssm_loop.py:56): poly_0
    * intercept plus centered powers up to `order`. */
  def polyTrend(dm: DataFrame, n: Int, order: Int): DataFrame =
    (0 to order).foldLeft(dm) { (acc, p) =>
      if (p == 0) acc.withColumn("poly0", lit(1.0))
      else acc.withColumn(s"poly$p",
        pow((col("t") - lit((n - 1) / 2.0)) / lit(n.toDouble), p))
    }

  /** Spike (one-hot) regressors from a flagged-TR list (SURVEY.md W7,
    * ssm_loop.py:77-84): one column per flagged TR, 1 at that sample and 0
    * elsewhere. The flag list is per-run metadata (≤ hundreds of entries),
    * so columns are generated driver-side — pure projections, no shuffle. */
  def spikeRegressors(dm: DataFrame, flaggedTrs: Seq[Long]): DataFrame =
    flaggedTrs.foldLeft(dm) { (acc, tr) =>
      acc.withColumn(s"spike_$tr",
        when(col("t") === tr, 1.0).otherwise(0.0))
    }

  /** SPM-canonical double-gamma HRF sampled at `tr`-second intervals,
    * `len` taps, scaled to integers (×1e6, rounded) so convolution sums
    * are exact int64 arithmetic (cross-engine determinism; ssm_loop.py:54
    * `dm.convolve()` semantics — peak Γ(6), undershoot Γ(16), ratio 1/6).
    * Gamma pdf computed via graft.glm.TDist.logGamma — no external dep.
    */
  def hrfKernelInts(tr: Double, len: Int): Array[Long] = {
    import graft.glm.TDist.logGamma
    def gammaPdf(x: Double, shape: Double): Double =
      if (x <= 0) 0.0
      else math.exp((shape - 1) * math.log(x) - x - logGamma(shape))
    val raw = Array.tabulate(len) { i =>
      val x = i * tr
      gammaPdf(x, 6.0) - gammaPdf(x, 16.0) / 6.0
    }
    val s = raw.sum
    raw.map(v => math.rint(v / s * 1e6).toLong) // normalized, fixed-point
  }

  /** Causal convolution of integer (t, cols…) design columns with a
    * fixed-point kernel (W4, SURVEY.md §2.5): conv_c(t) =
    * (Σ_τ h(τ)·x(t−τ)) / 1e6 for t in [0, n). `dm` is bounded by contract
    * (a [[boxcar]] LocalRelation, so the capped pin runs no job: ≤ `cap`
    * rows; a missing t is 0, a t outside [0, n) is ignored, a NULL x
    * fails), [[convolveInts]] sums exactly on the driver, and only the
    * scaling to double is a Catalyst projection. */
  def convolve(dm: DataFrame, kernel: Array[Long], cols: Seq[String], n: Int,
      cap: Int = Loops.PinMaxRows): DataFrame = {
    val rows = Loops.pinnedRows(dm.select(("t" +: cols).map(col): _*),
      "DesignOps.convolve", cap)
    val x = Array.fill(cols.size, n)(0L)
    for (r <- rows; t = r.getAs[Number](0).longValue if t >= 0 && t < n;
         c <- cols.indices) {
      require(!r.isNullAt(c + 1), s"DesignOps.convolve: NULL ${cols(c)} at t=$t")
      x(c)(t.toInt) = Math.addExact(x(c)(t.toInt), r.getAs[Number](c + 1).longValue)
    }
    val y = x.map(convolveInts(_, kernel))
    val sums = cols.map(c => s"__conv_$c")
    timeRelation(dm.sparkSession, sums, n)(t => y.map(_(t)).toSeq)
      .select(col("t") +: cols.map(c =>
        (col(s"__conv_$c").cast("double") / 1e6).as(s"conv_$c")): _*)
  }

  /** y(t) = Σ_τ h(τ)·x(t−τ) over t − τ in [0, |x|), exact: a BIGINT
    * overflow throws. */
  def convolveInts(x: Array[Long], h: Array[Long]): Array[Long] =
    Array.tabulate(x.length)(t => (0 to math.min(t, h.length - 1)).foldLeft(0L)(
      (acc, tau) => Math.addExact(acc, Math.multiplyExact(h(tau), x(t - tau)))))
}
