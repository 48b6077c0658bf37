package graft.image

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Voxel-grid image algebra (SURVEY.md §2.7, §2.2 P8/P9, §2.4 A4/A5/A8/A9):
  * the long voxel model `(x, y, z, label, value)` plus binarize, value-set
  * masking, 19-tap stencil mode (AFNI 3dcalc hmode, preprocess_parallel.sh:
  * 63-82), separable binomial smoothing (the discretized Gaussian of
  * ssm_loop.py:88), per-slice reductions, and nearest-neighbor resampling.
  *
  * Scale notes (100 TB): stencil ops are self-joins on shifted coordinates.
  * The plan below shuffles by cell key; at cluster scale the voxel table is
  * ingested partitioned by spatial block (blockId = (x/B, y/B, z/B)) with
  * halo rows duplicated into neighboring blocks (SURVEY.md §4, §7.5.4 —
  * halo factor ≈1.95× at 8³ blocks), which turns every stencil groupBy into
  * a partition-local aggregation with NO exchange. The declarative form
  * here is identical either way — only the ingest layout changes.
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

  private def offsetsDf(spark: SparkSession, offs: Seq[(Int, Int, Int, Long)]) = {
    import spark.implicits._
    offs.toDF("dx", "dy", "dz", "w")
  }

  /** I3 stencil mode filter: each cell's label replaced by the most frequent
    * label among its existing 19-tap neighbors, smallest label on ties
    * (AFNI hmode tie-break, SURVEY.md §7.5.6). Neighbors outside the grid
    * simply don't vote (inner join).
    */
  def stencilMode(spark: SparkSession, grid: DataFrame): DataFrame = {
    val offs = offsetsDf(spark, Offsets19.map { case (a, b, c) => (a, b, c, 1L) })
    val votes = grid
      .join(broadcast(offs), expr("true"))
      .select(
        (col("x") + col("dx")).as("cx"),
        (col("y") + col("dy")).as("cy"),
        (col("z") + col("dz")).as("cz"),
        col("label"),
      )
      // votes target a cell; only cells that exist in the grid are output
      .join(grid.select(col("x").as("cx"), col("y").as("cy"), col("z").as("cz")),
        Seq("cx", "cy", "cz"), "left_semi")
    val counted = votes.groupBy("cx", "cy", "cz", "label").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cx", "cy", "cz")
      .orderBy(col("cnt").desc, col("label").asc)
    counted
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cx").as("x"), col("cy").as("y"), col("cz").as("z"),
        col("label").as("clean_label"))
  }

  /** Block+halo stencil execution — the 100 TB physical design the
    * declarative stencilMode documents (SURVEY.md §4 "stencil locality",
    * §7.5.4): cells are duplicated into every block whose interior stencil
    * reads them (halo), data is exchanged ONCE by blockId, and the mode
    * itself runs partition-local with zero further shuffle. Output is
    * bit-identical to stencilMode (ImageDesignSpec proves it); the win at
    * scale is one bounded exchange (≤ halo factor ≈ 2-3× rows at 8³..4³
    * blocks) instead of a 19× vote shuffle keyed by cell.
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
      // Offsets19 is symmetric, so "blocks whose stencil reads me" =
      // blocks of (me + offset)
      offs.map { case (dx, dy, dz) => (fd(x + dx), fd(y + dy), fd(z + dz)) }
        .distinct
        .map { bk => (bk._1, bk._2, bk._3, x, y, z, l, bk == home) }
    }.toDF("bx", "by", "bz", "x", "y", "z", "label", "owner")
    copies
      .repartition(col("bx"), col("by"), col("bz")) // the ONE exchange
      // sort co-locates each block's rows so the mode pass can STREAM one
      // block at a time off the iterator: peak memory is O(block + halo)
      // (b³ · halo factor cells), not O(partition) — and SortExec spills to
      // disk under pressure, which an it.toVector buffer never could
      .sortWithinPartitions(col("bx"), col("by"), col("bz"))
      .as[(Int, Int, Int, Int, Int, Int, Int, Boolean)]
      .mapPartitions { it =>
        val rows = it.buffered
        // one block group per next(): consume rows while the block key holds
        val blocks = new Iterator[Vector[(Int, Int, Int, Int, Int, Int, Int, Boolean)]] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): Vector[(Int, Int, Int, Int, Int, Int, Int, Boolean)] = {
            val h = rows.head
            val key = (h._1, h._2, h._3)
            val buf = Vector.newBuilder[(Int, Int, Int, Int, Int, Int, Int, Boolean)]
            while (rows.hasNext &&
              (rows.head._1, rows.head._2, rows.head._3) == key) buf += rows.next()
            buf.result()
          }
        }
        blocks.flatMap { cs =>
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
        }
      }
      .toDF("x", "y", "z", "clean_label")
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
    copies.union(seeds).toDF("bx", "by", "bz", "x", "y", "z", "t", "v")
      .repartition(col("bx"), col("by"), col("bz")) // the ONE exchange
      .sortWithinPartitions(col("bx"), col("by"), col("bz"))
      .as[(Int, Int, Int, Int, Int, Int, Int, Long)]
      .mapPartitions { it =>
        val rows = it.buffered
        val blocks = new Iterator[Vector[(Int, Int, Int, Int, Int, Int, Int, Long)]] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): Vector[(Int, Int, Int, Int, Int, Int, Int, Long)] = {
            val h = rows.head
            val key = (h._1, h._2, h._3)
            val buf = Vector.newBuilder[(Int, Int, Int, Int, Int, Int, Int, Long)]
            while (rows.hasNext &&
              (rows.head._1, rows.head._2, rows.head._3) == key) buf += rows.next()
            buf.result()
          }
        }
        blocks.flatMap { cs =>
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
          out.result()
        }
      }
      .toDF("x", "y", "z", "m", "srt2", "srt", "sum_tu")
  }

  /** Block+halo execution of [[weightedNeighborMean]] — the scale twin that
    * closes the one gap q51 left open: [[gaussianSmooth]]/[[binomialSmooth]]
    * always ran the cell-keyed tap-scatter shuffle, which at a (2r+1)³-tap
    * kernel ships ~kernel-size× the grid through the exchange. Here cells
    * are duplicated into every block whose interior gathers them (halo
    * width = kernel radius r), exchanged ONCE by blockId, and the weighted
    * mean runs partition-local, streaming one block at a time off the
    * sorted iterator exactly like [[blockLocalStencilMode]].
    *
    * Bit-identical to the declarative form — ImageDesignSpec
    * ("blockLocalWeightedMean is bit-identical to the declarative
    * smoothing") pins it on a gappy grid with holes at block boundaries,
    * for both the fwhm=4 Gaussian and the binomial kernel, at two block
    * sizes; the driver's oracle hash-match (q71 vs q61's SQL at both SFs)
    * re-checks it end-to-end. Why it holds: the per-cell gather multiplies
    * the SAME decimal values by the SAME int64 weights and sums with
    * java.math.BigDecimal — exact, order-free, like Spark's decimal sum —
    * then performs the identical final double division num/den.
    *
    * Halo factor is ((b+2r)/b)³ copies per cell: at b=32, r=4 that is
    * 1.95× — bounded data inflation through ONE exchange, vs the
    * declarative plan's (2r+1)³−zeros taps (729−) through a shuffle keyed
    * by cell. Pick b ≫ r at scale; the 16³ test grid uses b=8 (8 blocks)
    * so the spec exercises real block boundaries in every axis.
    */
  def blockLocalWeightedMean(spark: SparkSession, grid: DataFrame,
      offs: Seq[(Int, Int, Int, Long)], blockSize: Int): DataFrame = {
    import spark.implicits._
    val b = blockSize
    require(b >= 1, s"blockSize must be >= 1, got $b")
    val r = offs.iterator.map { case (dx, dy, dz, _) =>
      math.max(math.abs(dx), math.max(math.abs(dy), math.abs(dz)))
    }.max
    // gather form: out(c) = Σ_o w(o)·value(c − o) over PRESENT neighbors —
    // the exact mirror of the scatter join (cx = x + dx ⇒ source = cx − dx),
    // correct for asymmetric kernels too
    val kernel: Map[(Int, Int, Int), Long] =
      offs.map { case (dx, dy, dz, w) => ((dx, dy, dz), w) }.toMap
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
    // a boxed tuple→Map probe per tap was its dominant constant (ProbeBlock
    // measured the dense-array form below ~3× faster at 64³/b=16)
    val kOffs = offs.toArray
    val nK = kOffs.length
    val kDx = kOffs.map(_._1); val kDy = kOffs.map(_._2); val kDz = kOffs.map(_._3)
    val kW = kOffs.map(_._4)
    val kWBig = kW.map(java.math.BigDecimal.valueOf)
    copies
      .repartition(col("bx"), col("by"), col("bz")) // the ONE exchange
      .sortWithinPartitions(col("bx"), col("by"), col("bz"))
      .as[(Int, Int, Int, Int, Int, Int, BigDecimal, Boolean)]
      .mapPartitions { it =>
        val rows = it.buffered
        val blocks = new Iterator[Vector[(Int, Int, Int, Int, Int, Int, BigDecimal, Boolean)]] {
          override def hasNext: Boolean = rows.hasNext
          override def next(): Vector[(Int, Int, Int, Int, Int, Int, BigDecimal, Boolean)] = {
            val h = rows.head
            val key = (h._1, h._2, h._3)
            val buf = Vector.newBuilder[(Int, Int, Int, Int, Int, Int, BigDecimal, Boolean)]
            while (rows.hasNext &&
              (rows.head._1, rows.head._2, rows.head._3) == key) buf += rows.next()
            buf.result()
          }
        }
        blocks.flatMap { cs =>
          // dense (b+2r)³ value array addressed by block-local coordinates:
          // every copy in this block lies in [block·b − r, block·b + b + r)
          // per axis by construction, so indices never escape; absent cells
          // stay null (the renormalize-on-present path). O(ext³) refs per
          // block — the same O(block + halo) peak memory as before.
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
        }
      }
      .toDF("x", "y", "z", "smoothed")
  }

  /** Shared weighted-neighborhood mean: scatter each cell's value through
    * the integer kernel table, keep taps landing on existing cells, and
    * renormalize by the sum of PRESENT weights (masked-smoothing
    * semantics). Integer weights × DECIMAL values keep the weighted mean
    * exact until the final double division. */
  private def weightedNeighborMean(spark: SparkSession, grid: DataFrame,
      offs: Seq[(Int, Int, Int, Long)]): DataFrame = {
    val taps = grid
      .join(broadcast(offsetsDf(spark, offs)), expr("true"))
      .select(
        (col("x") + col("dx")).as("cx"),
        (col("y") + col("dy")).as("cy"),
        (col("z") + col("dz")).as("cz"),
        col("w"), col("value_dec"),
      )
      .join(grid.select(col("x").as("cx"), col("y").as("cy"), col("z").as("cz")),
        Seq("cx", "cy", "cz"), "left_semi")
    taps
      .groupBy("cx", "cy", "cz")
      .agg(
        sum(col("w") * col("value_dec")).as("num"),
        sum(col("w")).as("den"),
      )
      .select(col("cx").as("x"), col("cy").as("y"), col("cz").as("z"),
        (col("num").cast("double") / col("den").cast("double")).as("smoothed"))
  }

  /** A9/I4 smoothing: separable binomial kernel (1,2,1)³ — the discretized
    * small-FWHM Gaussian (σ ≈ 0.7 voxel) — kept as the cheap 27-tap
    * special case; see [[gaussianSmooth]] for arbitrary FWHM.
    */
  def binomialSmooth(spark: SparkSession, grid: DataFrame): DataFrame =
    weightedNeighborMean(spark, grid, binomialKernelInts)

  /** The (1,2,1)³ separable binomial weight table [[binomialSmooth]] uses —
    * exposed so the block+halo path (q73) can route the SAME kernel. */
  val binomialKernelInts: Seq[(Int, Int, Int, Long)] = {
    def b(d: Int): Long = if (d == 0) 2L else 1L
    for { dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1 }
      yield (dx, dy, dz, b(dx) * b(dy) * b(dz))
  }

  /** Truncated Gaussian kernel at arbitrary FWHM as an integer weight
    * table: σ = fwhm/2.3548 voxels (FWHM = 2·√(2·ln 2)·σ), 1-D weights
    * w₁(d) = rint(1000·e^(−d²/2σ²)) for |d| ≤ r with r = ⌈2σ⌉, 3-D weight
    * = w₁(dx)·w₁(dy)·w₁(dz) (separability of the Gaussian), zero-weight
    * taps dropped. Integer weights make the smoothed means exactly
    * reproducible in any engine — the kernel table IS the oracle literal.
    */
  /** The 1-D integer weight row w₁(d) = rint(1000·e^(−d²/2σ²)), |d| ≤ ⌈2σ⌉,
    * zero weights dropped — the factor both [[gaussianKernelInts]] (joint
    * product kernel) and [[gaussianSmoothSeparableDense]] (3-pass) build
    * from, so the two paths share literals by construction. */
  def gaussian1dInts(fwhmVox: Double): Seq[(Int, Long)] = {
    require(fwhmVox > 0, s"fwhm must be positive, got $fwhmVox")
    val sigma = fwhmVox / (2.0 * math.sqrt(2.0 * math.log(2.0)))
    val r = math.max(1, math.ceil(2.0 * sigma).toInt)
    (-r to r)
      .map(d => (d, math.rint(1000.0 * math.exp(-(d * d) / (2.0 * sigma * sigma))).toLong))
      .filter(_._2 > 0)
  }

  def gaussianKernelInts(fwhmVox: Double): Seq[(Int, Int, Int, Long)] = {
    val w1 = gaussian1dInts(fwhmVox)
    for {
      (dx, wx) <- w1; (dy, wy) <- w1; (dz, wz) <- w1
      w = wx * wy * wz if w > 0
    } yield (dx, dy, dz, w)
  }

  /** SEPARABLE 3-pass Gaussian for DENSE grids (the nilearn/FSL interior
    * fast path the joint kernel's scaladoc defers to): one scatter join +
    * sum per axis with the (2r+1)-tap 1-D row, then a single division by
    * (Σw₁)³ — 3·(2r+1) taps per cell instead of (2r+1)³, an ~r²× tap
    * reduction (r=4: 27 vs 729).
    *
    * Semantics: ZERO-PADDED dense convolution — each pass keeps exact
    * DECIMAL numerators (no per-pass division), missing neighbors
    * contribute 0, and the divisor is the full kernel mass. On cells
    * whose full (2r+1)³ neighborhood exists this is BIT-IDENTICAL to
    * [[gaussianSmooth]] (same integer weights by construction, same
    * exact decimal triple sum, same final double division —
    * ImageDesignSpec pins it); on boundary/masked-edge cells the joint
    * form renormalizes over PRESENT taps while this one divides by full
    * mass, which is why the gappy-grid queries (q61/q71) keep the joint
    * kernel and this stays the dense-interior scale path (ProbeSmooth
    * measures the win; SCALE.md has the table).
    */
  def gaussianSmoothSeparableDense(spark: SparkSession, grid: DataFrame,
      fwhmVox: Double): DataFrame = {
    import spark.implicits._
    val taps = gaussian1dInts(fwhmVox)
    val denL = { val s = taps.map(_._2).sum; s * s * s }
    def pass(df: DataFrame, axis: String): DataFrame = {
      val offs = taps.toDF("d", "w")
      df.join(broadcast(offs), expr("true"))
        .select(
          (if (axis == "x") col("x") + col("d") else col("x")).as("x"),
          (if (axis == "y") col("y") + col("d") else col("y")).as("y"),
          (if (axis == "z") col("z") + col("d") else col("z")).as("z"),
          (col("num") * col("w")).as("num"))
        .groupBy("x", "y", "z").agg(sum(col("num")).as("num"))
    }
    val start = grid.select(col("x"), col("y"), col("z"),
      col("value_dec").cast("decimal(38,2)").as("num"))
    pass(pass(pass(start, "x"), "y"), "z")
      // zero-padding scatters partial sums past the grid edge; only cells
      // of the input volume are output (same footprint as the joint form)
      .join(grid.select("x", "y", "z"), Seq("x", "y", "z"), "left_semi")
      .select(col("x"), col("y"), col("z"),
        (col("num").cast("double") / lit(denL).cast("double")).as("smoothed"))
  }

  /** A9 at arbitrary FWHM (ssm_loop.py:88 `smooth(fwhm=4)`): one-pass
    * joint kernel through the stencil join, renormalizing on present
    * neighbors like [[binomialSmooth]].
    *
    * Scale note: the joint kernel is (2r+1)³ taps. On a DENSE 100 TB
    * volume the separable decomposition (three (2r+1)-tap passes along x,
    * y, z — same join/groupBy shape each) cuts tap volume ~r²×; it is not
    * used here because per-pass renormalization on a gappy grid changes
    * masked-boundary semantics, and the oracle checks the joint form.
    */
  def gaussianSmooth(spark: SparkSession, grid: DataFrame, fwhmVox: Double): DataFrame =
    weightedNeighborMean(spark, grid, gaussianKernelInts(fwhmVox))

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
    lineitem
      .groupBy(
        ((col("l_orderkey") + col("l_linenumber") * 11) % nT).cast("int").as("t"),
        (col("l_orderkey") % l).cast("int").as("x"),
        (col("l_partkey") % l).cast("int").as("y"),
        (col("l_suppkey") % l).cast("int").as("z"),
      )
      .agg((sum(round(col("l_quantity") * 100).cast("long")) / 100.0)
        .cast("decimal(18,2)").as("value_dec")) // see voxelGrid's note

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
