package graft.image

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Voxel-grid image algebra (SURVEY.md §2.7, §2.2 P8/P9, §2.4 A4/A5/A8/A9):
  * the long voxel model `(x, y, z, label, value)` plus binarize, value-set
  * masking, 19-tap stencil mode (AFNI 3dcalc hmode, preprocess_parallel.sh:
  * 63-82), integer-kernel smoothing (the discretized Gaussian of
  * ssm_loop.py:88), per-slice reductions, and nearest-neighbor resampling.
  *
  * Stencils run block+halo (`perBlock`): every cell is copied into each
  * spatial block (blockId = (x/B, y/B, z/B)) whose interior stencil reads
  * it, the copies are exchanged ONCE by blockId, and the stencil gathers
  * partition-locally over a dense block array (SURVEY.md §4, §7.5.4 —
  * halo factor ((B+2r)/B)³, ≈1.95× at B = 8, r = 1). With block-
  * partitioned ingest at cluster scale even that one exchange goes.
  */
object ImageOps {

  /** FreeSurfer subcortical aseg codes kept by the reference's mask
    * (preprocess_parallel.sh:59). */
  val AsegCodes: Seq[Int] = Seq(11, 12, 13, 17, 18, 26, 50, 51, 52, 53, 54, 58)

  /** Deterministic L³ voxel grid ingested from `lineitem`: cell coords are
    * key residues, per-cell `value` is the exact-DECIMAL sum of quantities
    * and `label` the minimum derived code — pure aggregations, no window,
    * no driver round-trip; the DuckDB oracle rebuilds it identically.
    */
  def voxelGrid(lineitem: DataFrame, l: Int): DataFrame =
    lineitem
      .groupBy(
        (col("l_orderkey") % l).cast("int").as("x"),
        (col("l_partkey") % l).cast("int").as("y"),
        (col("l_suppkey") % l).cast("int").as("z"),
      )
      .agg(
        min(((col("l_partkey") * 7 + col("l_suppkey")) % 60).cast("int")).as("label"),
        // fixed-point int64 sum, presented as DECIMAL(18,2): bit-identical
        // to sum(cast(decimal)) for 2-decimal inputs (cell sums ≤ 3e9·100
        // stay exact in both int64 and the double division), but the long
        // sum stays in primitive codegen where Decimal sums box — measured
        // 0.40 → 0.22 s on the sf0.1 ingest (SCALE.md "Round-14: DECIMAL →
        // fixed-point int64")
        (sum(round(col("l_quantity") * 100).cast("long")) / 100.0)
          .cast("decimal(18,2)").as("value_dec"),
      )

  /** I1 binarize + I2 label-preserving mask: nonzero→1 mask bit and
    * `label·1[label ∈ keep]` (3dcalc `amongst` semantics). */
  def labelMask(grid: DataFrame, keep: Seq[Int]): DataFrame =
    grid
      .withColumn("masked_label",
        when(col("label").isin(keep: _*), col("label")).otherwise(lit(0)))
      .withColumn("mask", when(col("masked_label") =!= 0, 1).otherwise(0))

  /** The 19-tap neighborhood of preprocess_parallel.sh:63-82: center + 18
    * face/edge neighbors (all |dx|,|dy|,|dz| ≤ 1 offsets except the 8
    * corners). */
  val Offsets19: Seq[(Int, Int, Int)] = for {
    dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1
    if math.abs(dx) + math.abs(dy) + math.abs(dz) <= 2
  } yield (dx, dy, dz)

  /** The block+halo pipeline every stencil kernel shares: `copies` — rows
    * led by their block key (bx, by, bz), one copy per block that reads
    * the cell — are exchanged ONCE by block, sorted so each block's rows
    * are contiguous, and `body` runs once per block over that block's
    * rows. Blocks stream one at a time off the sorted iterator, so peak
    * memory is O(block + halo), not O(partition), and SortExec spills
    * under pressure. */
  private def perBlock[T <: Product : Encoder, U : Encoder](copies: DataFrame)(
      body: Vector[T] => Iterator[U]): Dataset[U] =
    copies
      .repartition(col("bx"), col("by"), col("bz")) // the ONE exchange
      .sortWithinPartitions(col("bx"), col("by"), col("bz"))
      .as[T]
      .mapPartitions { it =>
        val rows = it.buffered
        def block(r: T) = (r.productElement(0), r.productElement(1), r.productElement(2))
        // one block group per next(): consume rows while the block key holds
        new Iterator[Vector[T]] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): Vector[T] = {
            val key = block(rows.head)
            val buf = Vector.newBuilder[T]
            while (rows.hasNext && block(rows.head) == key) buf += rows.next()
            buf.result()
          }
        }.flatMap(body)
      }

  /** I3 stencil mode filter (the q37/q51 kernel): each cell's label
    * replaced by the most frequent label among its existing 19-tap
    * neighbors, smallest label on ties (AFNI hmode tie-break, SURVEY.md
    * §7.5.6); neighbors outside the grid simply don't vote. Offsets19 is
    * symmetric, so the blocks whose stencil reads a cell are the blocks of
    * (cell + offset): each cell is copied into those, and the mode runs
    * per block over a dense (b+2)³ label array. ImageDesignSpec pins it
    * against a driver 19-tap reference at two block sizes; the oracle
    * hash-match re-checks it end to end.
    */
  def blockLocalStencilMode(spark: SparkSession, grid: DataFrame,
      blockSize: Int): DataFrame = {
    import spark.implicits._
    val b = blockSize
    val offs = Offsets19
    val oDx = offs.map(_._1).toArray
    val oDy = offs.map(_._2).toArray
    val oDz = offs.map(_._3).toArray
    val nO = oDx.length
    val cells = grid.select(col("x"), col("y"), col("z"), col("label"))
      .as[(Int, Int, Int, Int)]
    val copies = cells.flatMap { case (x, y, z, l) =>
      def fd(v: Int) = Math.floorDiv(v, b)
      val home = (fd(x), fd(y), fd(z))
      offs.map { case (dx, dy, dz) => (fd(x + dx), fd(y + dy), fd(z + dz)) }
        .distinct
        .map { bk => (bk._1, bk._2, bk._3, x, y, z, l, bk == home) }
    }.toDF("bx", "by", "bz", "x", "y", "z", "label", "owner")
    perBlock[(Int, Int, Int, Int, Int, Int, Int, Boolean), (Int, Int, Int, Int)](
        copies) { cs =>
      // dense (b+2)³ label array addressed by block-local coordinates
      // (stencil radius 1), sentinel Int.MinValue for absent cells —
      // same no-hash, no-boxing gather as blockLocalWeightedMean
      val h0 = cs.head
      val ext = b + 2
      val x0 = h0._1 * b - 1; val y0 = h0._2 * b - 1; val z0 = h0._3 * b - 1
      val dense = Array.fill(ext * ext * ext)(Int.MinValue)
      cs.foreach { c =>
        dense(((c._4 - x0) * ext + (c._5 - y0)) * ext + (c._6 - z0)) = c._7
      }
      val votes = new Array[Int](nO)
      cs.iterator.filter(_._8).map { c =>
        var nV = 0
        var i = 0
        while (i < nO) {
          val l = dense(((c._4 + oDx(i) - x0) * ext + (c._5 + oDy(i) - y0)) * ext
            + (c._6 + oDz(i) - z0))
          if (l != Int.MinValue) { votes(nV) = l; nV += 1 }
          i += 1
        }
        // mode with smallest-label tie-break over ≤19 votes: sort the
        // slice, then the longest equal run (first on ties, since equal
        // counts are met in ascending label order)
        java.util.Arrays.sort(votes, 0, nV)
        var best = votes(0); var bestN = 0
        var j = 0
        while (j < nV) {
          var k = j
          while (k < nV && votes(k) == votes(j)) k += 1
          if (k - j > bestN) { bestN = k - j; best = votes(j) }
          j = k
        }
        (c._4, c._5, c._6, best)
      }
    }.toDF("x", "y", "z", "clean_label")
  }

  /** Block+halo ReHo moments (the q163 kernel): from a sparse
    * (t, x, y, z, v) cents series over a dense `gridL`³ × `nt` volume
    * (absent cells are zeros), compute per voxel the Kendall's-W moment
    * columns (m, srt2, srt, sum_tu) — the caller applies the shared W
    * projection string so both execution forms share the final arithmetic.
    *
    * Why: the declarative ReHo ranks via two voxel-partitioned windows
    * (exchange + sort), expands 27× through the stencil cross join, and
    * re-aggregates twice more — ~6 exchanges and a 27×-row shuffle for a
    * VOLUME-bounded computation (r20 verdict item 2). Here cells are
    * duplicated into every block whose radius-1 stencil reads them
    * (halo factor ((b+2)/b)³), exchanged ONCE by blockId, and the
    * rank/tie/stencil machinery runs partition-local over primitive
    * arrays — the [[blockLocalStencilMode]]/[[blockLocalWeightedMean]]
    * pattern applied to the rank stencil.
    *
    * Bit-identical to the declarative form by exactness, not luck: ranks
    * are exact halves (RANK + (n_eq−1)/2 carried as int 2·rank), per-TR
    * rank totals exact halves of int sums, srt2 exact quarters
    * (≤ (27·2·nt)²·nt ≪ 2⁵³), tie terms exact ints — every double any
    * summation order produces is the same double, and the moments are
    * handed to the IDENTICAL final W expression. InferenceQcSpec's planted
    * neighborhoods and the driver's oracle hash pin it end to end.
    */
  def blockLocalRehoMoments(spark: SparkSession, series: DataFrame,
      gridL: Int, nt: Int, blockSize: Int): DataFrame = {
    import spark.implicits._
    val b = blockSize
    require(b >= 1, s"blockSize must be >= 1, got $b")
    val nBlocks = (gridL + b - 1) / b
    val cells = series.selectExpr("CAST(x AS INT) AS x", "CAST(y AS INT) AS y",
      "CAST(z AS INT) AS z", "CAST(t AS INT) AS t", "CAST(v AS BIGINT) AS v")
      .as[(Int, Int, Int, Int, Long)]
      // the declarative grid join drops out-of-volume rows; mirror it
      .filter(c => c._1 >= 0 && c._1 < gridL && c._2 >= 0 && c._2 < gridL &&
        c._3 >= 0 && c._3 < gridL && c._4 >= 0 && c._4 < nt)
    val copies = cells.flatMap { case (x, y, z, t, v) =>
      def fd(q: Int) = Math.floorDiv(q, b)
      for {
        bx <- fd(x - 1) to fd(x + 1)
        by <- fd(y - 1) to fd(y + 1)
        bz <- fd(z - 1) to fd(z + 1)
        if bx >= 0 && bx < nBlocks && by >= 0 && by < nBlocks &&
          bz >= 0 && bz < nBlocks
      } yield (bx, by, bz, x, y, z, t, v)
    }
    // every block must emit its full dense cell set even when NO series row
    // lands in it (dense zero-series semantics): seed one marker row per
    // block (t = −1 ⇒ skipped by the fill loop, it only forces the group)
    val seeds = (for {
      bx <- 0 until nBlocks; by <- 0 until nBlocks; bz <- 0 until nBlocks
    } yield (bx, by, bz, bx * b, by * b, bz * b, -1, 0L)).toDS()
    perBlock[(Int, Int, Int, Int, Int, Int, Int, Long),
        (Long, Long, Long, Long, Double, Double, Double)](
        copies.union(seeds).toDF("bx", "by", "bz", "x", "y", "z", "t", "v")) { cs =>
      val h0 = cs.head
      val ext = b + 2
      val nCells = ext * ext * ext
      val x0 = h0._1 * b - 1; val y0 = h0._2 * b - 1; val z0 = h0._3 * b - 1
      // dense (b+2)³ × nt value grid, zeros for absent cells
      val vals = Array.ofDim[Long](nCells, nt)
      cs.foreach { c =>
        if (c._7 >= 0)
          vals(((c._4 - x0) * ext + (c._5 - y0)) * ext + (c._6 - z0))(c._7) = c._8
      }
      // per in-grid cell: rank2(t) = 2·(RANK + (n_eq−1)/2) — exact int —
      // and the tie term tu = Σ(n_eq³ − n_eq) over the cell's value runs
      val rank2 = Array.ofDim[Int](nCells, nt)
      val tu = new Array[Long](nCells)
      val sorted = new Array[Long](nt)
      var ci = 0
      while (ci < nCells) {
        val cx = x0 + ci / (ext * ext)
        val cy = y0 + (ci / ext) % ext
        val cz = z0 + ci % ext
        if (cx >= 0 && cx < gridL && cy >= 0 && cy < gridL &&
            cz >= 0 && cz < gridL) {
          val v = vals(ci)
          System.arraycopy(v, 0, sorted, 0, nt)
          java.util.Arrays.sort(sorted)
          val vr = new java.util.HashMap[java.lang.Long, Integer]()
          var tuc = 0L
          var i = 0
          while (i < nt) {
            var j = i
            while (j < nt && sorted(j) == sorted(i)) j += 1
            val c = j - i
            vr.put(sorted(i), 2 * (i + 1) + (c - 1))
            tuc += c.toLong * c * c - c
            i = j
          }
          tu(ci) = tuc
          val r2 = rank2(ci)
          var tt = 0
          while (tt < nt) { r2(tt) = vr.get(v(tt)); tt += 1 }
        }
        ci += 1
      }
      // owners: the block's own in-grid cells; gather the 27-stencil
      val out = Vector.newBuilder[(Long, Long, Long, Long, Double, Double, Double)]
      val rt2 = new Array[Long](nt)
      var ox = 0
      while (ox < b) {
        val gx = h0._1 * b + ox
        var oy = 0
        while (oy < b) {
          val gy = h0._2 * b + oy
          var oz = 0
          while (oz < b) {
            val gz = h0._3 * b + oz
            if (gx < gridL && gy < gridL && gz < gridL) {
              java.util.Arrays.fill(rt2, 0L)
              var m = 0L
              var sumTu = 0L
              var dx = -1
              while (dx <= 1) {
                val nx = gx + dx
                if (nx >= 0 && nx < gridL) {
                  var dy = -1
                  while (dy <= 1) {
                    val ny = gy + dy
                    if (ny >= 0 && ny < gridL) {
                      var dz = -1
                      while (dz <= 1) {
                        val nz = gz + dz
                        if (nz >= 0 && nz < gridL) {
                          val ni = ((nx - x0) * ext + (ny - y0)) * ext + (nz - z0)
                          m += 1
                          sumTu += tu(ni)
                          val nr2 = rank2(ni)
                          var tt = 0
                          while (tt < nt) { rt2(tt) += nr2(tt); tt += 1 }
                        }
                        dz += 1
                      }
                    }
                    dy += 1
                  }
                }
                dx += 1
              }
              var srtH = 0L
              var srt2Q = 0L
              var tt = 0
              while (tt < nt) {
                val r = rt2(tt); srtH += r; srt2Q += r * r; tt += 1
              }
              out += ((gx.toLong, gy.toLong, gz.toLong, m,
                srt2Q / 4.0, srtH / 2.0, sumTu.toDouble))
            }
            oz += 1
          }
          oy += 1
        }
        ox += 1
      }
      out.result().iterator
    }.toDF("x", "y", "z", "m", "srt2", "srt", "sum_tu")
  }

  /** I4 smoothing (the q38/q73 binomial and q61/q71 fwhm=4 kernels):
    * each cell's weighted mean over its PRESENT neighbors under the integer
    * kernel `offs`, renormalized by the sum of present weights (masked-
    * smoothing semantics): out(c) = Σ_o w(o)·value(c − o) / Σ_o w(o) over
    * the taps o whose source cell exists (correct for asymmetric kernels
    * too). Cells are copied into every block whose interior gathers them
    * (halo width = kernel radius r) and the mean runs per block over a
    * dense (b+2r)³ array.
    *
    * Exact until the final division: the gather multiplies the decimal
    * values by the int64 weights and sums with java.math.BigDecimal —
    * exact and order-free, like the oracle's decimal SUM — then divides
    * num/den once in double. ImageDesignSpec pins it against a driver
    * BigDecimal reference on a gappy grid with holes at block boundaries,
    * for both kernels, at two block sizes; the oracle hash-match re-checks
    * it end to end.
    *
    * Halo factor is ((b+2r)/b)³ copies per cell: at b=32, r=4 that is
    * 1.95× through ONE exchange, where a tap scatter ships (2r+1)³ taps
    * (729 at r = 4) keyed by cell. Pick b ≫ r at scale; the 16³ test
    * grid uses b=8 (8 blocks) so the spec exercises real block boundaries
    * in every axis.
    */
  def blockLocalWeightedMean(spark: SparkSession, grid: DataFrame,
      offs: Seq[(Int, Int, Int, Long)], blockSize: Int): DataFrame = {
    import spark.implicits._
    val b = blockSize
    require(b >= 1, s"blockSize must be >= 1, got $b")
    val r = offs.iterator.map { case (dx, dy, dz, _) =>
      math.max(math.abs(dx), math.max(math.abs(dy), math.abs(dz)))
    }.max
    val cells = grid
      .select(col("x"), col("y"), col("z"),
        col("value_dec").cast("decimal(38,18)").as("value_dec"))
      .as[(Int, Int, Int, BigDecimal)]
    val copies = cells.flatMap { case (x, y, z, v) =>
      def fd(q: Int) = Math.floorDiv(q, b)
      val home = (fd(x), fd(y), fd(z))
      // blocks whose interior gathers me = blocks containing [p−r, p+r]³
      for {
        bx <- fd(x - r) to fd(x + r)
        by <- fd(y - r) to fd(y + r)
        bz <- fd(z - r) to fd(z + r)
      } yield (bx, by, bz, x, y, z, v, (bx, by, bz) == home)
    }.toDF("bx", "by", "bz", "x", "y", "z", "value_dec", "owner")
    // kernel as primitive arrays: the per-cell gather is the hot loop, and
    // a boxed tuple→Map probe per tap was its dominant constant (the dense-
    // array form measured ~3× faster at 64³/b=16, SCALE.md)
    val kOffs = offs.toArray
    val nK = kOffs.length
    val kDx = kOffs.map(_._1); val kDy = kOffs.map(_._2); val kDz = kOffs.map(_._3)
    val kW = kOffs.map(_._4)
    val kWBig = kW.map(java.math.BigDecimal.valueOf)
    perBlock[(Int, Int, Int, Int, Int, Int, BigDecimal, Boolean), (Int, Int, Int, Double)](
        copies) { cs =>
      // dense (b+2r)³ value array addressed by block-local coordinates:
      // every copy in this block lies in [block·b − r, block·b + b + r)
      // per axis by construction, so indices never escape; absent cells
      // stay null (the renormalize-on-present path). O(ext³) refs per
      // block: O(block + halo) peak memory.
      val h0 = cs.head
      val ext = b + 2 * r
      val x0 = h0._1 * b - r; val y0 = h0._2 * b - r; val z0 = h0._3 * b - r
      val dense = new Array[java.math.BigDecimal](ext * ext * ext)
      cs.foreach { c =>
        dense(((c._4 - x0) * ext + (c._5 - y0)) * ext + (c._6 - z0)) = c._7.bigDecimal
      }
      cs.iterator.filter(_._8).map { c =>
        var num = java.math.BigDecimal.ZERO
        var den = 0L
        var i = 0
        while (i < nK) {
          val v = dense(((c._4 - kDx(i) - x0) * ext + (c._5 - kDy(i) - y0)) * ext
            + (c._6 - kDz(i) - z0))
          if (v != null) {
            num = num.add(v.multiply(kWBig(i)))
            den += kW(i)
          }
          i += 1
        }
        (c._4, c._5, c._6, num.doubleValue / den.toDouble)
      }
    }.toDF("x", "y", "z", "smoothed")
  }

  /** The (1,2,1)³ separable binomial weight table — the discretized
    * small-FWHM Gaussian (σ ≈ 0.7 voxel), the cheap 27-tap kernel q38/q73
    * run through [[blockLocalWeightedMean]]. */
  val binomialKernelInts: Seq[(Int, Int, Int, Long)] = {
    def b(d: Int): Long = if (d == 0) 2L else 1L
    for { dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1 }
      yield (dx, dy, dz, b(dx) * b(dy) * b(dz))
  }

  /** The 1-D integer weight row of the truncated Gaussian at arbitrary
    * FWHM: σ = fwhm/2.3548 voxels (FWHM = 2·√(2·ln 2)·σ), w₁(d) =
    * rint(1000·e^(−d²/2σ²)) for |d| ≤ r with r = ⌈2σ⌉, zero weights
    * dropped — the factor [[gaussianKernelInts]] builds from. */
  def gaussian1dInts(fwhmVox: Double): Seq[(Int, Long)] = {
    require(fwhmVox > 0, s"fwhm must be positive, got $fwhmVox")
    val sigma = fwhmVox / (2.0 * math.sqrt(2.0 * math.log(2.0)))
    val r = math.max(1, math.ceil(2.0 * sigma).toInt)
    (-r to r)
      .map(d => (d, math.rint(1000.0 * math.exp(-(d * d) / (2.0 * sigma * sigma))).toLong))
      .filter(_._2 > 0)
  }

  /** The 3-D Gaussian kernel (ssm_loop.py:88 `smooth(fwhm=4)` at 4.0) as
    * an integer weight table for [[blockLocalWeightedMean]]: weight =
    * w₁(dx)·w₁(dy)·w₁(dz) over [[gaussian1dInts]] (separability of the
    * Gaussian), zero-weight taps dropped. Integer weights make the
    * smoothed means exactly reproducible in any engine — the kernel table
    * IS the oracle literal. */
  def gaussianKernelInts(fwhmVox: Double): Seq[(Int, Int, Int, Long)] = {
    val w1 = gaussian1dInts(fwhmVox)
    for {
      (dx, wx) <- w1; (dy, wy) <- w1; (dz, wz) <- w1
      w = wx * wy * wz if w > 0
    } yield (dx, dy, dz, w)
  }

  /** A4/A5 global reductions: per-z-slice count and exact mean of masked
    * cells (the global-signal / mean-image shape over the semi-joined
    * mask, P9). */
  def sliceMeans(grid: DataFrame, keep: Seq[Int]): DataFrame =
    grid
      .filter(col("label").isin(keep: _*))
      .groupBy("z")
      .agg(
        count(lit(1)).as("n"),
        (sum(col("value_dec")).cast("double") / count(lit(1))).as("mean_value"),
      )

  /** S7 with a time axis: the 4-D voxel series (t, x, y, z, value) — the
    * long form of an fMRI run (one 3-D volume per TR). Ingested from
    * `lineitem` like [[voxelGrid]], with `t` a key residue over `nT` TRs;
    * the DuckDB oracle rebuilds it identically. */
  def voxelSeries(lineitem: DataFrame, l: Int, nT: Int): DataFrame =
    voxelRows(lineitem, l, nT)
      .groupBy("t", "x", "y", "z")
      .agg((sum("v") / 100.0)
        .cast("decimal(18,2)").as("value_dec")) // see voxelGrid's note

  /** The row grain under [[voxelSeries]]: one (t, x, y, z, v) row per
    * lineitem row, `v` its quantity in integer cents. A consumer that only
    * sums `v` over a function of (t, x, y, z) — an atlas-zone sum — reads
    * these rows directly and skips the voxel aggregate's exchange. */
  def voxelRows(lineitem: DataFrame, l: Int, nT: Int): DataFrame =
    lineitem.select(
      ((col("l_orderkey") + col("l_linenumber") * 11) % nT).cast("int").as("t"),
      (col("l_orderkey") % l).cast("int").as("x"),
      (col("l_partkey") % l).cast("int").as("y"),
      (col("l_suppkey") % l).cast("int").as("z"),
      round(col("l_quantity") * 100).cast("long").as("v"))

  /** A4 proper — PER-TR global signal (nb cell 42 `np.mean(data, axis=1)`
    * over the masked 4-D series): for each TR, the count and exact-decimal
    * mean of the in-mask voxels at that t.
    *
    * Scale shape: the mask is an atlas — O(volume), not O(data) — so the
    * semi-join broadcasts it and the series streams through map-side;
    * the per-t aggregation partial-combines to |TRs| rows per partition
    * before the one #TRs-sized exchange. No data-sized shuffle anywhere.
    */
  def globalSignal(series: DataFrame, mask: DataFrame): DataFrame =
    series
      .join(broadcast(mask.select("x", "y", "z")), Seq("x", "y", "z"), "left_semi")
      .groupBy("t")
      .agg(
        count(lit(1)).as("n_vox"),
        (sum(col("value_dec")).cast("double") / count(lit(1))).as("global_signal"),
      )

  /** A5 proper — the PER-VOXEL mean image over the 4-D series (nb cells
    * 48-49: `data.mean()` / `smoothed.mean()`): for each voxel, the mean
    * of its time series under DENSE array semantics — a TR where the voxel
    * is absent from the long table contributes 0, exactly as np.mean over
    * the dense (T, X, Y, Z) array does — so the divisor is the fixed TR
    * count nT, not the per-voxel row count. `n_t` (TRs actually present)
    * is carried alongside for transparency.
    *
    * Scale shape: one hash aggregation keyed by voxel — partial-combines
    * map-side to |volume| rows per partition before the single
    * volume-sized exchange; with block-partitioned ingest (SURVEY §4) even
    * that exchange disappears. No window, no join, no driver round-trip.
    */
  def meanImage(series: DataFrame, nT: Int): DataFrame =
    series
      .groupBy("x", "y", "z")
      .agg(
        count(lit(1)).as("n_t"),
        (sum(col("value_dec")).cast("double") / nT).as("mean_value"),
      )

  /** I5 nearest-neighbor resample to half resolution: out(x,y,z) =
    * in(2x, 2y, 2z) — coordinate transform + filter, no interpolation
    * (antsApplyTransforms -n nearestNeighbor analog for a pure scaling
    * transform). The special case of [[resampleAffineNN]] where the
    * source map is a pure filter+projection — no join at all. */
  def resampleHalf(grid: DataFrame): DataFrame =
    grid
      .filter(col("x") % 2 === 0 && col("y") % 2 === 0 && col("z") % 2 === 0)
      .select(
        (col("x") / 2).cast("int").as("x"),
        (col("y") / 2).cast("int").as("y"),
        (col("z") / 2).cast("int").as("z"),
        col("label"),
        col("value_dec"),
      )

  /** I5 general form — NN resample under an ARBITRARY affine output→input
    * map (antsApplyTransforms -n nearestNeighbor,
    * preprocess_parallel.sh:151-159): for each output cell o in the
    * `dims` box, source s = round(A·o + b); emit input(s) when that cell
    * exists. Pure coordinate transform + round + equi-join — rotations,
    * shears, and anisotropic scalings all reduce to the same plan.
    *
    * Scale notes: the output box is generated distributed (spark.range
    * decomposed to 3-D), the join shuffles on source-coordinate keys; with
    * block-partitioned ingest (SURVEY §4) both sides co-locate by spatial
    * block. Callers should pick A/b whose images avoid exact .5 midpoints
    * (NN at a tie is representation-dependent in ANY engine — the
    * reference's ANTs call has the same property).
    */
  def resampleAffineNN(spark: SparkSession, grid: DataFrame,
      a: Array[Array[Double]], b: Array[Double],
      dims: (Int, Int, Int)): DataFrame = {
    val (nx, ny, nz) = dims
    val out = spark.range(nx.toLong * ny * nz).selectExpr(
      s"CAST(id div ${ny.toLong * nz} AS INT) AS x",
      s"CAST((id div $nz) % $ny AS INT) AS y",
      s"CAST(id % $nz AS INT) AS z")
    def src(i: Int) = round(
      lit(a(i)(0)) * col("x") + lit(a(i)(1)) * col("y") + lit(a(i)(2)) * col("z") +
        lit(b(i))).cast("int")
    out
      .select(col("x"), col("y"), col("z"),
        src(0).as("sx"), src(1).as("sy"), src(2).as("sz"))
      .join(grid.select(col("x").as("sx"), col("y").as("sy"), col("z").as("sz"),
        col("label"), col("value_dec")), Seq("sx", "sy", "sz"))
      .select(col("x"), col("y"), col("z"), col("label"), col("value_dec"))
  }

  /** I5 interpolating form — TRILINEAR resample under a RATIONAL affine
    * output→input map (antsApplyTransforms -n linear, the default
    * interpolator of preprocess_parallel.sh:151-159; the NN form above is
    * `-n nearestNeighbor`). The affine is passed as integer numerators over
    * one denominator `den` (source coord s_i = (aNum_i·o + bNum_i) / den),
    * so the floor cell and the fractional weights are EXACT integers:
    * f_i = sNum_i mod den ∈ [0, den), per-axis weight numerators are
    * (den − f_i, f_i), and each of the 8 corner weights is a product of
    * three numerators over den³. Values enter as DECIMAL(18,2)·100 int64,
    * so the interpolated sum Σ w·v is exact integer arithmetic — the DuckDB
    * oracle replays it bit-for-bit (same property as every aggregate in
    * this engine; see SCALE.md §determinism).
    *
    * Only output cells whose FULL 8-corner support exists are emitted
    * (count(*) = 8 after the corner join) — the interior-only policy ANTs
    * calls `defaultValue` avoidance; boundary extrapolation is a caller
    * policy, not hidden behavior.
    *
    * Plan shape: distributed output-box generation → 8-way corner explode
    * (map-side, constant factor) → hash join on source cell keys → hash
    * aggregate by output cell. Identical exchange structure to
    * [[resampleAffineNN]]; with block-partitioned ingest both sides
    * co-locate by spatial block at cluster scale.
    */
  /** Boundary policy: with `pad100 = None` (the default), only output
    * cells whose FULL 8-corner support exists are emitted (interior-only;
    * see the class note below). With `pad100 = Some(v)`, missing corners
    * contribute the pad value (in DECIMAL·100 int64 units) and EVERY
    * output cell emits — antsApplyTransforms' `defaultValue` semantics
    * (pad 0 = zero-padded convolution at the volume edge). */
  def resampleAffineTrilinear(spark: SparkSession, grid: DataFrame,
      aNum: Array[Array[Long]], bNum: Array[Long], den: Long,
      dims: (Int, Int, Int), pad100: Option[Long] = None): DataFrame = {
    require(den > 0, "denominator must be positive")
    val (nx, ny, nz) = dims
    val out = spark.range(nx.toLong * ny * nz).selectExpr(
      s"CAST(id div ${ny.toLong * nz} AS INT) AS x",
      s"CAST((id div $nz) % $ny AS INT) AS y",
      s"CAST(id % $nz AS INT) AS z")
    def sNum(i: Int) =
      (lit(aNum(i)(0)) * col("x") + lit(aNum(i)(1)) * col("y") +
        lit(aNum(i)(2)) * col("z") + lit(bNum(i))).cast("long")
    val corners = out
      .select(col("x"), col("y"), col("z"),
        sNum(0).as("sn0"), sNum(1).as("sn1"), sNum(2).as("sn2"))
      // floor cell + fractional numerator per axis (exact integer split;
      // pmod keeps it correct for negative source coordinates too)
      .select(col("x"), col("y"), col("z"),
        ((col("sn0") - pmod(col("sn0"), lit(den))) / den).cast("int").as("s0x"),
        ((col("sn1") - pmod(col("sn1"), lit(den))) / den).cast("int").as("s0y"),
        ((col("sn2") - pmod(col("sn2"), lit(den))) / den).cast("int").as("s0z"),
        pmod(col("sn0"), lit(den)).as("fx"),
        pmod(col("sn1"), lit(den)).as("fy"),
        pmod(col("sn2"), lit(den)).as("fz"))
      .withColumn("c", explode(expr(
        "transform(sequence(0, 7), k -> struct(" +
          "CAST(k div 4 AS INT) AS dx, CAST((k div 2) % 2 AS INT) AS dy, " +
          "CAST(k % 2 AS INT) AS dz))")))
      .select(col("x"), col("y"), col("z"),
        (col("s0x") + col("c.dx")).as("sx"),
        (col("s0y") + col("c.dy")).as("sy"),
        (col("s0z") + col("c.dz")).as("sz"),
        // corner weight numerator over den^3
        (when(col("c.dx") === 0, lit(den) - col("fx")).otherwise(col("fx")) *
          when(col("c.dy") === 0, lit(den) - col("fy")).otherwise(col("fy")) *
          when(col("c.dz") === 0, lit(den) - col("fz")).otherwise(col("fz")))
          .as("wn"))
    val gridV = grid.select(col("x").as("sx"), col("y").as("sy"),
      col("z").as("sz"), (col("value_dec") * 100).cast("long").as("v100"))
    val joined = pad100 match {
      case None => corners.join(gridV, Seq("sx", "sy", "sz"))
      case Some(p) => corners.join(gridV, Seq("sx", "sy", "sz"), "left")
        .withColumn("v100", coalesce(col("v100"), lit(p)))
    }
    val agg = joined
      .groupBy("x", "y", "z")
      .agg(sum(col("wn") * col("v100")).as("num"), count(lit(1)).as("nc"))
    // padded mode keeps every output cell (the left join preserves all 8
    // corner rows); interior-only keeps full-support cells
    (if (pad100.isEmpty) agg.filter(col("nc") === 8) else agg)
      .select(col("x"), col("y"), col("z"),
        (col("num").cast("double") / (100.0 * den * den * den)).as("value"))
  }
}
