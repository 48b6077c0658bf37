package graft

import org.apache.spark.sql.functions._
import graft.design.DesignOps
import graft.image.ImageOps

class ImageDesignSpec extends SparkSpec {

  private def grid(rows: (Int, Int, Int, Int, BigDecimal)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("x", "y", "z", "label", "value_dec")
      .withColumn("value_dec", col("value_dec").cast("decimal(18,2)"))
  }

  /** Dense 3×3×3 grid, all label `bg`, except a rogue center voxel. */
  private def rogueGrid(bg: Int, rogue: Int) = grid(
    (for { x <- 0 to 2; y <- 0 to 2; z <- 0 to 2 }
      yield (x, y, z, if (x == 1 && y == 1 && z == 1) rogue else bg, BigDecimal(1))): _*
  )

  /** Driver reference for the hmode filter, straight from its oracle
    * SQL: every cell votes its label into each existing 19-tap target, and
    * a target keeps the label of (count DESC, label ASC). */
  private def modeReference(cells: Seq[(Int, Int, Int, Int, BigDecimal)]) = {
    val label = cells.map(c => (c._1, c._2, c._3) -> c._4).toMap
    val votes = for {
      ((x, y, z), l) <- label.toSeq
      (dx, dy, dz) <- ImageOps.Offsets19
      t = (x + dx, y + dy, z + dz) if label.contains(t)
    } yield t -> l
    votes.groupMap(_._1)(_._2).view.mapValues(ls =>
      ls.groupMapReduce(identity)(_ => 1)(_ + _).minBy { case (l, n) => (-n, l) }._1).toMap
  }

  /** Driver reference for the smoothing oracle: every cell scatters
    * w·value into each existing target cell + o, exactly in BigDecimal, and
    * a target's mean is Σ w·v / Σ w over the taps it received. */
  private def meanReference(cells: Seq[(Int, Int, Int, Int, BigDecimal)],
      offs: Seq[(Int, Int, Int, Long)]) = {
    val value = cells.map(c => (c._1, c._2, c._3) -> c._5).toMap
    val taps = for {
      ((x, y, z), v) <- value.toSeq
      (dx, dy, dz, w) <- offs
      t = (x + dx, y + dy, z + dz) if value.contains(t)
    } yield t -> (v * w, w)
    taps.groupMapReduce(_._1)(_._2)((a, b) => (a._1 + b._1, a._2 + b._2))
      .view.mapValues { case (num, den) => num.toDouble / den.toDouble }.toMap
  }

  test("stencilMode removes a rogue voxel (hmode clean)") {
    val cleaned = ImageOps.blockLocalStencilMode(spark, rogueGrid(bg = 11, rogue = 50), 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    assert(cleaned((1, 1, 1)) === 11) // neighbors outvote the rogue label
    assert(cleaned((0, 0, 0)) === 11)
    assert(cleaned.size === 27)
  }

  test("stencilMode breaks ties by smallest label (AFNI hmode)") {
    // isolated voxel: only its own 1 tap votes... craft a 2-cell tie instead:
    // two cells (0,0,0) lbl 7 and (1,0,0) lbl 3; each sees both labels once
    // — in different 1³ blocks, so each tie is decided across the halo
    val g = grid((0, 0, 0, 7, BigDecimal(1)), (1, 0, 0, 3, BigDecimal(1)))
    val out = ImageOps.blockLocalStencilMode(spark, g, 1)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    assert(out((0, 0, 0)) === 3) // tie 1:1 → smallest label wins
    assert(out((1, 0, 0)) === 3)
  }

  test("blockLocalStencilMode is bit-identical to the declarative stencil") {
    // gappy 7×7×7 grid with varied labels, multiple 4³ blocks + boundaries
    val cells = for {
      x <- 0 to 6; y <- 0 to 6; z <- 0 to 6
      if (x + 2 * y + 3 * z) % 5 != 0 // holes
    } yield (x, y, z, (x * 7 + y * 3 + z) % 6 + 10, BigDecimal(1))
    val g = grid(cells: _*)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    val declarative = modeReference(cells)
    val blockLocal = toMap(ImageOps.blockLocalStencilMode(spark, g, blockSize = 4))
    assert(blockLocal === declarative)
    assert(declarative.size === cells.size)
    // blockSize=2 → 64 blocks over the suite's 4 shuffle partitions: many blocks
    // per partition, exercising the streaming per-block group iterator's
    // boundaries (the O(block), not O(partition), memory path)
    val blockLocal2 = toMap(ImageOps.blockLocalStencilMode(spark, g, blockSize = 2))
    assert(blockLocal2 === declarative)
  }

  test("blockLocalWeightedMean is bit-identical to the declarative smoothing") {
    // gappy 9×9×9 grid: holes land ON block boundaries for both b=4 and
    // b=2 (x,y,z ∈ {3,4,7,8} rows are removed by the pattern below), so the
    // renormalize-on-present path — the place gather and scatter could
    // diverge — is exercised at the halo edges, not just the interior
    val cells = for {
      x <- 0 to 8; y <- 0 to 8; z <- 0 to 8
      if (x * 5 + y * 3 + z * 2) % 7 != 0 // ~1/7 holes, all residues hit
    } yield (x, y, z, 1, BigDecimal(x * 100 + y * 10 + z) / 4)
    val g = grid(cells: _*)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    // fwhm=4 (radius 4, the q61/q71 kernel): exact-double equality
    val fwhm4 = ImageOps.gaussianKernelInts(4.0)
    val declarative = meanReference(cells, fwhm4)
    assert(declarative.size === cells.size)
    for (b <- Seq(4, 2)) { // b=2 → 125 blocks over 4 partitions: many
      // blocks per partition, streaming group-iterator boundaries hit
      val block = toMap(ImageOps.blockLocalWeightedMean(spark, g, fwhm4, b))
      assert(block === declarative, s"fwhm=4 blockSize=$b")
    }
    // binomial (1,2,1)³ kernel — the q38/q73 kernel
    val declBinom = meanReference(cells, ImageOps.binomialKernelInts)
    for (b <- Seq(4, 2)) {
      val blockBinom = toMap(
        ImageOps.blockLocalWeightedMean(spark, g, ImageOps.binomialKernelInts, b))
      assert(blockBinom === declBinom, s"binomial blockSize=$b")
    }
  }

  test("globalSignal: per-TR masked mean, exact; out-of-mask voxels don't vote") {
    val s = spark
    import s.implicits._
    // 2 TRs × 3 voxels; mask covers (0,0,0) and (1,0,0) only
    val series = Seq(
      (0, 0, 0, 0, BigDecimal("1.00")), (0, 1, 0, 0, BigDecimal("3.00")),
      (0, 2, 0, 0, BigDecimal("99.00")), // out of mask
      (1, 0, 0, 0, BigDecimal("5.00")), // TR 1: only one in-mask voxel present
      (1, 2, 0, 0, BigDecimal("99.00")),
    ).toDF("t", "x", "y", "z", "value_dec")
      .withColumn("value_dec", col("value_dec").cast("decimal(18,2)"))
    val mask = Seq((0, 0, 0), (1, 0, 0)).toDF("x", "y", "z")
    val out = ImageOps.globalSignal(series, mask)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out === Map(0 -> ((2L, 2.0)), 1 -> ((1L, 5.0))))
  }

  test("voxelRows summed per voxel equal the cents voxel series on sf0.01") {
    val di = graft.queries.DesignImage
    val summed = di.centsRows(spark, sf001)
      .groupBy("t", "x", "y", "z").agg(sum("v").as("v"))
    val cents = di.centsSeries(spark, sf001)
    val n = cents.count()
    assert(n > 0 && summed.count() == n)
    assert(summed.exceptAll(cents).isEmpty && cents.exceptAll(summed).isEmpty)
  }

  test("resampleAffineNN: diag(2) affine ≡ resampleHalf; identity ≡ input") {
    val cells = for {
      x <- 0 to 5; y <- 0 to 5; z <- 0 to 5
      if (x + y + z) % 3 != 0 // holes so the join actually filters
    } yield (x, y, z, (x + 2 * y + z) % 4 + 1, BigDecimal(x * 10 + y))
    val g = grid(cells: _*)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getDecimal(4).doubleValue))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val id = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0))
    assert(key(ImageOps.resampleAffineNN(spark, g, id, Array(0, 0, 0), (6, 6, 6)))
      === key(g.select("x", "y", "z", "label", "value_dec")))
    val twice = id.map(_.map(_ * 2.0))
    assert(key(ImageOps.resampleAffineNN(spark, g, twice, Array(0, 0, 0), (3, 3, 3)))
      === key(ImageOps.resampleHalf(g)))
  }

  test("resampleAffineTrilinear: reproduces a linear field exactly; interior-only") {
    // v = 4x + 2y + z is linear, so trilinear interpolation must return the
    // field value AT the source point s = (2o+1)/4 — exactly, since every
    // weight is a quarter-product and values are DECIMAL·100 int64.
    val g = grid(
      (for { x <- 0 to 1; y <- 0 to 1; z <- 0 to 1 }
        yield (x, y, z, 0, BigDecimal(4 * x + 2 * y + z))): _*)
    val out = ImageOps.resampleAffineTrilinear(spark, g,
        Array(Array(2L, 0L, 0L), Array(0L, 2L, 0L), Array(0L, 0L, 2L)),
        Array(1L, 1L, 1L), den = 4L, (4, 4, 4))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    // only o ∈ {0,1}³ has full 8-corner support in a 2³ grid (interior-only)
    assert(out.size == 8)
    for { x <- 0 to 1; y <- 0 to 1; z <- 0 to 1 } {
      val (sx, sy, sz) = ((2 * x + 1) / 4.0, (2 * y + 1) / 4.0, (2 * z + 1) / 4.0)
      assert(out((x, y, z)) == 4 * sx + 2 * sy + sz) // exact, no tolerance
    }
  }

  test("resampleAffineTrilinear: lattice-point affine returns input values on the interior") {
    // s = o exactly (aNum = 4·I, b = 0, den = 4): fractional numerators are
    // all 0, so the sample IS the floor-cell value — but the +1 corners
    // still participate in the 8-corner support test, so only cells whose
    // full neighborhood exists are emitted (the conservative interior
    // policy, stated in the scaladoc).
    val g = grid(
      (for { x <- 0 to 2; y <- 0 to 2; z <- 0 to 2 }
        yield (x, y, z, 0, BigDecimal(x * 100 + y * 10 + z))): _*)
    val out = ImageOps.resampleAffineTrilinear(spark, g,
        Array(Array(4L, 0L, 0L), Array(0L, 4L, 0L), Array(0L, 0L, 4L)),
        Array(0L, 0L, 0L), den = 4L, (3, 3, 3))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(out.size == 8) // o ∈ {0,1}³: cells with an existing +1 corner
    for { x <- 0 to 1; y <- 0 to 1; z <- 0 to 1 }
      assert(out((x, y, z)) == x * 100 + y * 10 + z)
  }

  test("resampleAffineTrilinear padded: full box emits; boundary fades; interior matches") {
    val g = grid(
      (for { x <- 0 to 1; y <- 0 to 1; z <- 0 to 1 }
        yield (x, y, z, 0, BigDecimal(8))): _*) // constant field
    val aff = Array(Array(2L, 0L, 0L), Array(0L, 2L, 0L), Array(0L, 0L, 2L))
    val interior = ImageOps.resampleAffineTrilinear(spark, g, aff,
        Array(1L, 1L, 1L), den = 4L, (4, 4, 4))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    val padded = ImageOps.resampleAffineTrilinear(spark, g, aff,
        Array(1L, 1L, 1L), den = 4L, (4, 4, 4), pad100 = Some(0L))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(padded.size == 64) // EVERY output cell of the 4³ box
    // on full-support cells the two policies agree exactly
    interior.foreach { case (k, v) => assert(padded(k) == v, s"$k") }
    // a boundary cell fades: o=2 → s=1.25, one corner (x=2) missing → pad 0
    // contributes weight 1/4 of the x-axis mass: 8 * 3/4 = 6
    assert(padded((2, 0, 0)) == 6.0)
    // a fully-outside cell is all padding
    assert(padded((3, 3, 3)) == 0.125) // s=1.75: only corner (1,1,1) in-grid, w=(1/4)³·8
  }

  test("binomial smoothing preserves a constant field") {
    val g = grid(
      (for { x <- 0 to 2; y <- 0 to 2; z <- 0 to 2 }
        yield (x, y, z, 1, BigDecimal(5))): _*
    )
    val sm = ImageOps.blockLocalWeightedMean(spark, g, ImageOps.binomialKernelInts, 2)
      .collect()
    assert(sm.length === 27)
    sm.foreach(r => assert(math.abs(r.getDouble(3) - 5.0) < 1e-12))
  }

  test("labelMask keeps aseg labels, zeroes others, binarizes") {
    val g = grid((0, 0, 0, 11, BigDecimal(1)), (1, 0, 0, 20, BigDecimal(2)))
    val m = ImageOps.labelMask(g, ImageOps.AsegCodes).collect()
      .map(r => r.getInt(0) -> ((r.getAs[Int]("masked_label"), r.getAs[Int]("mask")))).toMap
    assert(m(0) === ((11, 1)))
    assert(m(1) === ((0, 0)))
  }

  test("hrf kernel is normalized fixed-point and starts at zero") {
    val k = DesignOps.hrfKernelInts(1.0, 24)
    assert(k(0) === 0L) // gamma pdf at 0
    assert(math.abs(k.sum - 1000000L) <= 24) // per-tap rounding error only
    assert(k.max > 0 && k.indexOf(k.max) > 2 && k.indexOf(k.max) < 9) // peak ~5s
  }

  test("convolution of a unit impulse reproduces the kernel") {
    val s = spark
    import s.implicits._
    val n = 30
    val dm = (0 until n).map(t => (t.toLong, if (t == 3) 1L else 0L)).toDF("t", "x")
    val k = DesignOps.hrfKernelInts(1.0, 10)
    val out = DesignOps.convolve(dm, k, Seq("x"), n)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("conv_x")).toMap
    for (tau <- 0 until 10)
      assert(math.abs(out(3L + tau) - k(tau) / 1e6) < 1e-12)
    assert(out.getOrElse(2L, 0.0) === 0.0) // causal
  }

  test("dct basis: dct1 spans a half cosine cycle") {
    val n = 16
    val dm = DesignOps.dctBasis(DesignOps.timeline(spark, n, 1.0), n, 1)
      .orderBy("t").collect().map(_.getAs[Double]("dct1"))
    assert(dm.head > 0.99) // cos(π/(2n)) ≈ 1
    assert(dm.last < -0.99) // cos(π(2n-1)/(2n)) ≈ −1
    assert(math.abs(dm.sum) < 1e-9) // DCT-II basis column sums to 0
  }

  // ---- q142 cluster-extent thresholding -----------------------------------

  private def vid(x: Long, y: Long, z: Long): Long = x * 256 + y * 16 + z

  test("q142 clusterLabels: 6-connectivity merges faces, not diagonals; singletons survive") {
    // an L-shape (3 cells), a diagonal pair (NOT 6-connected), a singleton
    val cells = Array(
      vid(1, 1, 1), vid(2, 1, 1), vid(2, 2, 1), // L-shape: one component
      vid(5, 5, 5), vid(6, 6, 5), // diagonal: two components
      vid(9, 0, 0), // singleton
      vid(15, 15, 15), vid(15, 15, 14), // face pair at the boundary
    )
    val lab = graft.queries.DesignImage.clusterLabels(cells)
    assert(lab(vid(1, 1, 1)) == vid(1, 1, 1))
    assert(lab(vid(2, 1, 1)) == vid(1, 1, 1) && lab(vid(2, 2, 1)) == vid(1, 1, 1))
    assert(lab(vid(5, 5, 5)) == vid(5, 5, 5) && lab(vid(6, 6, 5)) == vid(6, 6, 5))
    assert(lab(vid(9, 0, 0)) == vid(9, 0, 0))
    assert(lab(vid(15, 15, 15)) == vid(15, 15, 14))
  }

  test("q142 clusterLabels: vid-wraparound neighbors never merge across grid faces") {
    // (0,0,15) and (0,1,0) have consecutive vids but are NOT z-neighbors
    val cells = Array(vid(0, 0, 15), vid(0, 1, 0))
    val lab = graft.queries.DesignImage.clusterLabels(cells)
    assert(lab(cells(0)) != lab(cells(1)),
      "z+1 at the face boundary must not wrap into the next y row")
  }

  test("q142 clusterLabels equals the distributed ccLabels fixpoint on real data") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val grid = graft.image.ImageOps.voxelGrid(
      graft.util.Tables.lineitem(s, sf001), 16)
    val tot = grid.agg(sum(col("value_dec")).as("tv"), count(lit(1)).as("nc"))
    val supra = grid.crossJoin(broadcast(tot))
      .filter(expr("value_dec * 20 * nc > 21 * tv"))
      .select((col("x") * 256 + col("y") * 16 + col("z")).cast("long").as("vid"),
        col("x"), col("y"), col("z"))
      .localCheckpoint()
    val e = Seq((1, 0, 0), (0, 1, 0), (0, 0, 1)).map { case (dx, dy, dz) =>
      supra.as("a").join(supra.as("b"),
        col("a.x") + dx === col("b.x") && col("a.y") + dy === col("b.y") &&
          col("a.z") + dz === col("b.z"))
        .select(col("a.vid").as("doc_a"), col("b.vid").as("doc_b"))
    }.reduce(_ unionByName _)
    val (ccDf, _) = graft.dedup.DedupOps.ccLabels(e)
    val cc = ccDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vids = supra.select("vid").collect().map(_.getLong(0))
    val uf = graft.queries.DesignImage.clusterLabels(vids)
    vids.foreach { v =>
      assert(uf(v) == cc.getOrElse(v, v), s"vid $v: uf=${uf(v)} cc=${cc.getOrElse(v, v)}")
    }
  }
}
