package graft

import org.apache.spark.sql.functions._

/** Planted-data specs for the q158-q161 family: seed-based functional
  * connectivity, framewise-displacement scrubbing, the ANCOVA second
  * level, and capped-vocabulary frozen-model scoring.
  */
class InferenceQcSpec extends SparkSpec {

  // ---- q158 seed connectivity --------------------------------------------

  private def plantedSeries(rows: Seq[(Int, Int, Int, Int, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("t", "x", "y", "z", "v")
  }

  test("q158: a voxel tracking the seed is r~+1, an inverted one r~-1, a flat one NULL") {
    // seed box is [4,6]^3; plant one seed voxel with a wiggly series
    val seed = (0 until 30).map(t => (t, 5, 5, 5, (100 + 37 * (t % 7)).toLong))
    val pos = (0 until 30).map(t => (t, 0, 0, 0, 2L * (100 + 37 * (t % 7))))
    val neg = (0 until 30).map(t => (t, 1, 0, 0, 1000L - (100 + 37 * (t % 7))))
    val flat = (0 until 30).map(t => (t, 2, 0, 0, 55L))
    val out = graft.queries.DesignImage
      .seedConnectivityCore(plantedSeries(seed ++ pos ++ neg ++ flat))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
        (Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    val (rPos, _) = out((0, 0, 0))
    val (rNeg, _) = out((1, 0, 0))
    val (rFlat, zFlat) = out((2, 0, 0))
    assert(rPos.exists(_ > 0.999999), s"positive tracker r = $rPos")
    assert(rNeg.exists(_ < -0.999999), s"inverted tracker r = $rNeg")
    assert(rFlat.isEmpty && zFlat.isEmpty, "flat voxel must be NULL r/z")
    // the seed voxel itself correlates perfectly with the seed sum
    assert(out((5, 5, 5))._1.exists(_ > 0.999999))
  }

  test("q158: r matches a driver replay of the exact-moment formula") {
    val nT = 30
    val seedSeries = (0 until nT).map(t => (100 + 37 * (t % 7)).toLong)
    val vSeries = (0 until nT).map(t => (50 + ((t * 13) % 29)).toLong)
    val seed = (0 until nT).map(t => (t, 4, 4, 4, seedSeries(t)))
    val vox = (0 until nT).map(t => (t, 7, 8, 9, vSeries(t)))
    val out = graft.queries.DesignImage
      .seedConnectivityCore(plantedSeries(seed ++ vox))
      .filter(col("x") === 7).collect()
    assert(out.length == 1)
    val got = out.head.getDouble(4)
    // identical op sequence to the shared expression strings
    val sv = vSeries.sum.toDouble
    val svv = vSeries.map(v => v * v).sum.toDouble
    val ss = seedSeries.sum.toDouble
    val sss = seedSeries.map(v => v * v).sum.toDouble
    val svs = vSeries.zip(seedSeries).map { case (a, b) => a * b }.sum.toDouble
    val num = nT * svs - sv * ss
    val denv = nT * svv - sv * sv
    val dens = nT * sss - ss * ss
    val expected = math.rint(num / (math.sqrt(denv) * math.sqrt(dens)) * 1e6) / 1e6
    assert(got == expected, s"got $got expected $expected")
  }

  // ---- q166 PPI GLM ------------------------------------------------------

  test("q166: planted PPI coefficients are recovered per voxel, exactly") {
    // seed voxel (4,4,4): s(t) = (1000 + 7t)·1000 cents, an exact
    // multiple of the $10 quantum, so the quantized regressor is
    // s_q(t) = 1000 + 7t exactly. Probe (0,0,0):
    //   v = 100 + 50·task + 2·s_q + 1·task·s_q  (task = t % 10 < 5)
    // Betas are in natural units (cents, cents per $10 of seed); the
    // whole chain is exact integer arithmetic, so an exactly-realizable
    // design recovers the planted coefficients to the last bit.
    val nT = 30
    def task(t: Int) = if (t % 10 < 5) 1L else 0L
    def sq(t: Int) = 1000L + 7L * t
    val seed = (0 until nT).map(t => (t, 4, 4, 4, sq(t) * 1000L))
    val probe = (0 until nT).map(t =>
      (t, 0, 0, 0, 100L + 50L * task(t) + 2L * sq(t) + task(t) * sq(t)))
    val out = graft.queries.DesignImage
      .ppiGlmCore(spark, plantedSeries(seed ++ probe))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
        (0 until 4).map(i => r.getDouble(3 + i)))).toMap
    assert(out.size === 2)
    val bProbe = out((0, 0, 0))
    Seq(100.0, 50.0, 2.0, 1.0).zip(bProbe).foreach { case (w, g) =>
      assert(g === w, s"probe betas $bProbe") }
    // the seed voxel's own series is 1000·s_q: c = [0, 0, 1000, 0]
    val bSeed = out((4, 4, 4))
    Seq(0.0, 0.0, 1000.0, 0.0).zip(bSeed).foreach { case (w, g) =>
      assert(g === w, s"seed betas $bSeed") }
  }

  // ---- q167 VMHC ---------------------------------------------------------

  test("q167: tracking mirror r~+1, inverted mirror r~-1, absent mirror NULL") {
    def base(t: Int) = (100 + 37 * (t % 7)).toLong
    val track = (0 until 30).flatMap(t =>
      Seq((t, 2, 3, 4, base(t)), (t, 13, 3, 4, 3L * base(t))))
    val inv = (0 until 30).flatMap(t =>
      Seq((t, 5, 0, 0, base(t)), (t, 10, 0, 0, 1000L - base(t))))
    val lone = (0 until 30).map(t => (t, 0, 1, 1, base(t)))
    val out = graft.queries.DesignImage
      .vmhcCore(plantedSeries(track ++ inv ++ lone))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(out.size === 3) // one row per low-x pair
    assert(out((2, 3, 4)).exists(_ > 0.999999), s"tracking pair ${out((2, 3, 4))}")
    assert(out((5, 0, 0)).exists(_ < -0.999999), s"inverted pair ${out((5, 0, 0))}")
    assert(out((0, 1, 1)).isEmpty, "absent mirror must be NULL r")
  }

  // ---- q168 parcellated connectome ---------------------------------------

  test("q168: coupled parcels form an edge; a flat parcel is NULL-r and degree-0") {
    def base(t: Int) = (100 + 37 * (t % 7)).toLong
    val a = (0 until 30).map(t => (t, 0, 0, 0, base(t))) // parcel 0
    val b = (0 until 30).map(t => (t, 1, 0, 0, 2L * base(t))) // parcel 7
    val c = (0 until 30).map(t => (t, 0, 1, 0, 55L)) // parcel 11, flat
    val rows = graft.queries.DesignImage
      .connectomeCore(plantedSeries(a ++ b ++ c))
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows.size === 3)
    val (rAB, eAB, dA, dB) = rows((0, 7))
    assert(rAB.exists(_ > 0.999999) && eAB === 1L, s"coupled pair $rAB/$eAB")
    assert(dA === 1L && dB === 1L)
    val (rAC, eAC, _, dC) = rows((0, 11))
    assert(rAC.isEmpty && eAC === 0L && dC === 0L, "flat parcel must be NULL/0")
    val (rBC, eBC, _, _) = rows((7, 11))
    assert(rBC.isEmpty && eBC === 0L)
  }

  // ---- q178 DVARS-scrubbed connectome -------------------------------------

  test("q178: spike frames are censored; garbage there cannot move the scrubbed r") {
    // two voxels in parcels 0 and 7, perfectly linear (B = 2A) on every
    // frame except t = 5, where B is garbage and the global signal spikes
    def rows(garbage: Long) = (0 until 10).flatMap { t =>
      val a = 100L + 10L * t
      val b = if (t == 5) garbage else 200L + 20L * t
      Seq((t, 0, 0, 0, a), (t, 1, 0, 0, b))
    }
    def run(garbage: Long) = graft.queries.DesignImage
      .scrubbedConnectomeCore(plantedSeries(rows(garbage)))
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getLong(4)))).toMap
    val out = run(-1000000L)
    val (nKept, rPar, edge) = out((0, 7))
    // spikes at t=5 (drop) and t=6 (recovery) censor t ∈ {4..8} → 5 kept
    assert(nKept === 5L, s"kept $nKept")
    assert(rPar === Some(1.0), s"scrubbed r must be exactly 1.0, got $rPar")
    assert(edge === 1L)
    // a different garbage value on the censored frame changes NOTHING
    assert(run(7777777L) === out, "censored-frame garbage moved the output")
  }

  // ---- q173 connectome graph metrics -------------------------------------

  test("q173: hand graph — triangle members cluster, leaf and isolate are NULL") {
    val s = spark
    import s.implicits._
    // triangle 0-1-2, pendant edge 2-3, isolate 4 (present via a non-edge)
    val pairs = Seq(
      (0, 1, 1L), (0, 2, 1L), (1, 2, 1L), (2, 3, 1L), (3, 4, 0L))
      .toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.graphMetricsCore(pairs)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        r.getDouble(4)))).toMap
    assert(out.keySet === Set(0, 1, 2, 3, 4))
    assert(out(0) === ((2L, 1L, Some(1.0), 0.4)))
    assert(out(1) === ((2L, 1L, Some(1.0), 0.4)))
    assert(out(2) === ((3L, 1L, Some(0.333333), 0.4)))
    assert(out(3)._1 === 1L && out(3)._3.isEmpty, "deg-1 leaf: C undefined")
    assert(out(4) === ((0L, 0L, None, 0.4)), "isolate: deg 0, C undefined")
  }

  // ---- q169 resting-state panel ------------------------------------------

  test("q169: the panel equals the standalone maps joined, row for row") {
    def base(t: Int) = (100 + 37 * (t % 7)).toLong
    // seed-box voxel + a tracker + a mirror pair + a flat voxel
    val rows = (0 until 30).flatMap(t => Seq(
      (t, 5, 5, 5, base(t)), (t, 0, 0, 0, 2L * base(t)),
      (t, 2, 3, 4, base(t)), (t, 13, 3, 4, 1000L - base(t)),
      (t, 7, 7, 7, 42L)))
    val series = plantedSeries(rows)
    val dim = graft.queries.DesignImage
    val panel = dim.restingPanelCore(spark, series).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (3 until 7).map(i => Option(r.get(i)).map(_.asInstanceOf[Double]))).toMap
    assert(panel.size === 16 * 16 * 16)
    val fc = dim.seedConnectivityCore(series).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getInt(2).toLong) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    val rh = dim.rehoCore(spark, series).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    val vm = dim.vmhcCore(series).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    for ((k @ (x, y, z), Seq(meanV, rSeed, rehoW, vmhcR)) <- panel) {
      assert(rSeed === fc.getOrElse(k, None), s"r_seed at $k")
      assert(rehoW === rh(k), s"reho_w at $k")
      val vmKey = (math.min(x, 15 - x).toInt, y.toInt, z.toInt)
      assert(vmhcR === vm.getOrElse(vmKey, None), s"vmhc_r at $k")
      // mean: cents sum / 100 / NT; spot-check the planted tracker
      if (k == (0L, 0L, 0L)) {
        val want = BigDecimal((0 until 30).map(t => 2L * base(t)).sum / 100.0 / 30.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(meanV.exists(m => math.abs(m - want) < 1e-9), s"mean at $k: $meanV")
      }
    }
  }

  // ---- q159 framewise displacement + scrubbing ---------------------------

  private def plantedParams(rows: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("run", "t", "p_0", "p_1", "p_2", "p_3", "p_4", "p_5")
  }

  test("q159: a one-frame excursion spikes both crossings and censors [f-1, f+2]") {
    // baseline wiggle FD=10 each frame; excursion at t=10 makes FD(10)
    // and FD(11) large (the frame out and back)
    val rows = (0L until 30L).map { t =>
      val p0 = if (t == 10) 1000L else 10L * (t % 2)
      (0L, t, p0, 0L, 0L, 0L, 0L, 0L)
    }
    val out = graft.queries.TimeSeries.fdScrubCore(plantedParams(rows))
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    val spikes = out.filter(_._2 == 1).map(_._1).toSet
    val censored = out.filter(_._3 == 1).map(_._1).toSet
    assert(spikes == Set(10L, 11L), s"spikes = $spikes")
    assert(censored == Set(9L, 10L, 11L, 12L, 13L), s"censored = $censored")
  }

  test("q159: rotation deltas carry the 50mm radius weight") {
    // the SAME delta magnitude on a rotation param is 50x the FD of a
    // translation: delta 20 on p_3 -> FD 1000 vs delta 20 on p_0 -> FD 20
    val rows = (0L until 20L).map { t =>
      val pr = if (t == 5) 20L else 0L
      val pt = if (t == 15) 20L else 0L
      (0L, t, pt, 0L, 0L, pr, 0L, 0L)
    }
    val out = graft.queries.TimeSeries.fdScrubCore(plantedParams(rows))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(out(5L) == 10.0, s"rotation FD = ${out(5L)}") // 50*20 cents = 10.00
    assert(out(15L) == 0.2, s"translation FD = ${out(15L)}")
  }

  test("q159: partition-invariant") {
    val rows = (0L until 4L).flatMap(run => (0L until 40L).map { t =>
      (run, t, (t * 7 + run) % 23, (t * 3) % 11, 0L, (t * 5) % 13, 0L, 0L)
    })
    val base = graft.queries.TimeSeries.fdScrubCore(plantedParams(rows))
      .collect().toSeq
    val shuffled = graft.queries.TimeSeries
      .fdScrubCore(plantedParams(scala.util.Random.shuffle(rows)).repartition(7))
      .collect().toSeq
    assert(base == shuffled)
  }

  // ---- q160 ANCOVA second level ------------------------------------------

  private def plantedAncova(fl: Seq[(Long, Long, Long, Long)],
      cov: Seq[(Long, Long, Long)]) = {
    val s = spark
    import s.implicits._
    graft.queries.Glm.ancovaCore(
      fl.toDF("run", "g", "j", "b_fp"),
      cov.toDF("run", "g", "cov_c"))
  }

  test("q160: an exactly-linear cohort recovers (intercept, group, slope); zero residual means NULL t") {
    // b = 2.0 + 0.5*grp + 1.5*cov with cov_c = g megacents
    val fl = (0 until 10).map { g =>
      val b = 2.0 + 0.5 * (g % 2) + 1.5 * g
      (0L, g.toLong, 0L, math.rint(b * 1e6).toLong)
    }
    val cov = (0 until 10).map(g => (0L, g.toLong, g * 1000000L))
    val out = plantedAncova(fl, cov).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getDouble(3) == 2.0, s"intercept ${r.getDouble(3)}")
    assert(r.getDouble(4) == 0.5, s"group_diff ${r.getDouble(4)}")
    assert(r.getDouble(5) == 1.5, s"cov_slope ${r.getDouble(5)}")
    assert(r.isNullAt(6), "exact fit must yield NULL t (zero residual variance)")
  }

  test("q160: t matches a textbook normal-equations replay under noise") {
    val bs = Seq(3.1, 2.7, 4.0, 3.3, 5.2, 4.8, 4.1, 5.5, 2.9, 4.6)
    val covs = Seq(1.0, 2.0, 1.5, 3.0, 2.5, 0.5, 1.8, 2.2, 3.1, 0.9)
    val fl = bs.zipWithIndex.map { case (b, g) =>
      (0L, g.toLong, 0L, math.rint(b * 1e6).toLong)
    }
    val cov = covs.zipWithIndex.map { case (c, g) =>
      (0L, g.toLong, math.rint(c * 1e6).toLong)
    }
    val r = plantedAncova(fl, cov).collect().head
    // textbook OLS via LinAlg on X = [1, grp, cov]
    val x = (0 until 10).map(g =>
      Array(1.0, (g % 2).toDouble, covs(g))).toArray
    val xtx = graft.glm.LinAlg.matmul(graft.glm.LinAlg.transpose(x), x)
    val inv = graft.glm.LinAlg.inverse(xtx)
    val xty = Array(bs.sum, bs.zipWithIndex.filter(_._2 % 2 == 1).map(_._1).sum,
      bs.zip(covs).map { case (a, b) => a * b }.sum)
    val beta = (0 until 3).map(i =>
      (0 until 3).map(j => inv(i)(j) * xty(j)).sum)
    val rss = bs.zipWithIndex.map { case (b, g) =>
      val f = beta(0) + beta(1) * (g % 2) + beta(2) * covs(g)
      (b - f) * (b - f)
    }.sum
    val t = beta(1) / math.sqrt((rss / 7.0) * inv(1)(1))
    assert(math.abs(r.getDouble(4) - beta(1)) < 1e-6,
      s"group_diff ${r.getDouble(4)} vs ${beta(1)}")
    assert(math.abs(r.getDouble(6) - t) < 1e-5,
      s"t_group ${r.getDouble(6)} vs $t")
  }

  test("q160: a collinear covariate (constant) yields NULL everything") {
    val fl = (0 until 10).map(g => (0L, g.toLong, 0L, (g * 1000000L)))
    val cov = (0 until 10).map(g => (0L, g.toLong, 5000000L))
    val r = plantedAncova(fl, cov).collect().head
    assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6),
      s"singular design must be all-NULL: $r")
  }

  // ---- q162 censored refit -----------------------------------------------

  test("q162: censored frames are truly excluded — garbage there cannot move the betas") {
    val s = spark
    import s.implicits._
    val G = graft.queries.Glm
    val k = 4
    val nr = 168
    val planted = Array(2.0, -1.5, 0.75, 3.25)
    // censor a block in each run; put absurd values on censored frames
    val censorSet = (40 to 55).toSet
    val censor = (0 until 2).flatMap(r => (0 until nr).map(t =>
      (r.toLong, t.toLong, if (censorSet(t)) 1L else 0L)))
      .toDF("run", "t", "censored")
    val series = for {
      r <- 0 until 2; g <- 0 until 3; t <- 0 until nr
    } yield {
      val x = G.runDesign(r)(t)
      val clean = (0 until k).map(j => x(j) * planted(j)).sum * (g + 1) * 100
      val y = if (censorSet(t)) 99999.99 else math.rint(clean * 100) / 100
      (r.toLong, g.toLong, t.toLong,
        BigDecimal(y).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    }
    val seriesDf = series.toDF("run", "g", "t", "y_dec")
      .withColumn("y_dec", col("y_dec").cast("decimal(18,2)"))
    val out = G.censoredGlmCore(s, censor, seriesDf).collect()
    assert(out.length == 6)
    out.foreach { r =>
      val g = r.getLong(1)
      assert(r.getLong(2) == (nr - censorSet.size).toLong)
      for (j <- 0 until k) {
        val got = r.getDouble(3 + j)
        val want = planted(j) * (g + 1) * 100
        // y was cent-quantized, so recovery is near-exact, not exact
        assert(math.abs(got - want) < 0.01,
          s"run=${r.getLong(0)} g=$g beta_$j: $got vs $want")
      }
    }
    // the control: an uncensored fit over the same garbage-bearing series
    // is pulled far off the planted betas
    val noCensor = censor.withColumn("censored", lit(0L))
    val dirty = G.censoredGlmCore(s, noCensor, seriesDf).collect()
    assert(dirty.exists(r => math.abs(r.getDouble(3) - planted(0) *
      (r.getLong(1) + 1) * 100) > 1.0),
      "garbage frames should have wrecked the uncensored fit")
  }

  // ---- q163 ReHo ----------------------------------------------------------

  test("q163: a perfectly concordant neighborhood has W = 1; rank-based W ignores monotone rescaling") {
    val s = spark
    import s.implicits._
    // all 27 voxels of the box around (8,8,8) follow the same strictly
    // increasing series; everything else is the all-zero background
    def planted(f: Long => Long) = (for {
      x <- 7 to 9; y <- 7 to 9; z <- 7 to 9; t <- 0 until 30
    } yield (t, x, y, z, f(t.toLong))).toDF("t", "x", "y", "z", "v")
    val out = graft.queries.DesignImage.rehoCore(s, planted(t => t + 1))
      .filter(col("x") === 8 && col("y") === 8 && col("z") === 8).collect()
    assert(out.length == 1)
    assert(out.head.getLong(3) == 27L)
    assert(out.head.getDouble(4) == 1.0, s"W = ${out.head.getDouble(4)}")
    // monotone value transform leaves ranks — and hence W — untouched
    val sq = graft.queries.DesignImage.rehoCore(s, planted(t => (t + 1) * (t + 1)))
      .filter(col("x") === 8 && col("y") === 8 && col("z") === 8).collect()
    assert(sq.head.getDouble(4) == 1.0)
  }

  test("q163: an all-constant neighborhood is NULL (undefined concordance)") {
    val s = spark
    import s.implicits._
    // one non-constant voxel far from the corner keeps the relation
    // non-degenerate; the corner neighborhood is pure background zeros
    val probe = (0 until 30).map(t => (t, 12, 12, 12, (t + 1).toLong))
    val out = graft.queries.DesignImage
      .rehoCore(s, probe.toDF("t", "x", "y", "z", "v"))
      .filter(col("x") === 0 && col("y") === 0 && col("z") === 0).collect()
    assert(out.length == 1)
    assert(out.head.getLong(3) == 8L) // corner: 2x2x2 in-grid neighborhood
    assert(out.head.isNullAt(4), "all-tied neighborhood must be NULL W")
  }

  // ---- q164 QC-aware group chain -----------------------------------------

  test("q164: garbage on censored frames cannot move the group-level statistics") {
    val s = spark
    import s.implicits._
    val G = graft.queries.Glm
    val k = 4
    val nr = 168
    val planted = Array(2.0, -1.5, 0.75, 3.25)
    val censorSet = (40 to 55).toSet
    def censor(active: Boolean) = (0 until 2).flatMap(r => (0 until nr).map(t =>
      (r.toLong, t.toLong, if (active && censorSet(t)) 1L else 0L)))
      .toDF("run", "t", "censored")
    def series(garbage: Boolean) = (for {
      r <- 0 until 2; g <- 0 until 4; t <- 0 until nr
    } yield {
      val x = G.runDesign(r)(t)
      val clean = (0 until k).map(j => x(j) * planted(j)).sum * (g + 1) * 100
      val y = if (garbage && censorSet(t)) 99999.99
        else math.rint(clean * 100) / 100
      (r.toLong, g.toLong, t.toLong,
        BigDecimal(y).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    }).toDF("run", "g", "t", "y_dec")
      .withColumn("y_dec", col("y_dec").cast("decimal(18,2)"))
    def chain(censorDf: org.apache.spark.sql.DataFrame,
        seriesDf: org.apache.spark.sql.DataFrame) =
      G.censoredGlmCore(s, censorDf, seriesDf)
        .selectExpr("run",
          s"stack($k, ${(0 until k).map(i => s"${i}L, beta_$i").mkString(", ")}) AS (j, beta)")
        .selectExpr("run", "j", "CAST(round(beta * 1e6, 0) AS BIGINT) AS b_fp")
    val scrubbed = G.secondLevel(chain(censor(active = true), series(garbage = true)))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(3), r.getDouble(4)))).toMap
    val clean = G.secondLevel(chain(censor(active = false), series(garbage = false)))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(3), r.getDouble(4)))).toMap
    assert(scrubbed.keySet == clean.keySet)
    for ((key, (mGarbage, _)) <- scrubbed) {
      val (mClean, _) = clean(key)
      assert(math.abs(mGarbage - mClean) < math.max(0.01, 0.001 * math.abs(mClean)),
        s"$key: scrubbed mean_beta $mGarbage strayed from clean $mClean")
    }
  }

  // ---- q161 capped-model scoring -----------------------------------------

  private def plantedDocs(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("q161: a cap covering the vocabulary reproduces the exact model") {
    val docs = plantedDocs(Seq(
      (0L, "a a b c"), (2L, "a b b d"), (1L, "a b x"), (3L, "c d")))
    val exact = graft.queries.Retrieval.cappedPplCore(docs, 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val capped = graft.queries.Retrieval.cappedPplCore(docs, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(exact == capped, s"$exact vs $capped")
    // hand replay for doc 1 = "a b x": model from docs 0,2 has
    // total=8, cf(a)=3, cf(b)=3; x is OOV -> ln(1/8)
    val lnp = Map("a" -> math.round(math.log(3.0 / 8) * 1e9),
      "b" -> math.round(math.log(3.0 / 8) * 1e9))
    val floor = math.round(math.log(1.0 / 8) * 1e9)
    val sfp = lnp("a") + lnp("b") + floor
    val want = math.rint(math.exp(-(sfp.toDouble / 1e9) / 3) * 1e6) / 1e6
    assert(exact(1L) == want, s"${exact(1L)} vs $want")
  }

  test("q161: the relational form equals the streaming serving path (capped model + OOV floor)") {
    val docs = plantedDocs(Seq(
      (0L, "a a a b b c d"), (2L, "a b c c e f"),
      (1L, "a b c q"), (3L, "b c d e f g")))
    for (v <- Seq(3, 100)) {
      val relational = graft.queries.Retrieval.cappedPplCore(docs, v)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val model = graft.streaming.StreamOps
        .unigramModelCapped(docs.filter(col("doc_id") % 2 === 0), v)
      val total = docs.filter(col("doc_id") % 2 === 0)
        .select(explode(split(col("text"), " "))).count()
      val floor = math.round(math.log(1.0 / total) * 1e9)
      val served = graft.streaming.StreamOps
        .streamingQualityScore(docs.filter(col("doc_id") % 2 =!= 0), model, floor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(relational == served, s"V=$v: $relational vs $served")
    }
  }

  test("q161: a binding cap only drifts scores toward the floor penalty") {
    val docs = plantedDocs(Seq(
      (0L, "a a a b b c d e"), (2L, "a b c c d e f"),
      (1L, "a b c d e f"), (3L, "b c d")))
    val exact = graft.queries.Retrieval.cappedPplCore(docs, 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val capped = graft.queries.Retrieval.cappedPplCore(docs, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    for ((id, p) <- exact)
      assert(capped(id) >= p - 1e-9,
        s"doc $id: capped ${capped(id)} < exact $p — drift must be one-sided")
    assert(exact.exists { case (id, p) => capped(id) > p },
      "cap at V=2 must actually bind on this corpus")
  }

  // ---- q182 group-level connectome edge inference -------------------------

  test("q182: edge z facts quantize atanh of the exact dense-moment r; |r|=1 is NULL") {
    val s = spark
    import s.implicits._
    // session 0: parcels 0 (voxel 0,0,0), 7 (1,0,0), 11 (0,1,0);
    // parcel 11 = 2× parcel 0 exactly → r = 1 → z NULL
    def a(t: Int) = (100 + 37 * (t % 7)).toLong
    def b(t: Int) = (100 + 53 * (t % 5)).toLong
    val rows = (0 until 30).flatMap(t => Seq(
      (0, t, 0, 0, 0, a(t)), (0, t, 1, 0, 0, b(t)), (0, t, 0, 1, 0, 2L * a(t))))
    val out = graft.queries.DesignImage
      .edgeZFactsCore(rows.toDF("g", "t", "x", "y", "z", "v"))
      .collect().map(r => ((r.getInt(1), r.getInt(2)),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    // expected z for (0, 7) under dense n = 30 semantics (all t present)
    val n = 30.0
    val (sa, sb) = ((0 until 30).map(a).sum.toDouble, (0 until 30).map(b).sum.toDouble)
    val saa = (0 until 30).map(t => a(t) * a(t)).sum.toDouble
    val sbb = (0 until 30).map(t => b(t) * b(t)).sum.toDouble
    val sab = (0 until 30).map(t => a(t) * b(t)).sum.toDouble
    val r = (n * sab - sa * sb) /
      (math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb))
    val zfp = BigDecimal(0.5 * math.log((1.0 + r) / (1.0 - r)) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(out((0, 7)) === Some(zfp), s"z_fp ${out((0, 7))} vs expected $zfp")
    assert(out((0, 11)).isEmpty, "r = 1 must yield NULL z (atanh undefined)")
    assert(out((7, 11)) === out((0, 7)), "parcel 11 doubles parcel 0 — same r vs 7")
  }

  test("q182: consistent edge ranks first; zero-variance edge is NULL-p and never rejected") {
    val s = spark
    import s.implicits._
    val facts = Seq(
      // edge (0,1): consistently positive z, small jitter → max |t|
      (0, 0, 1, 500000L), (1, 0, 1, 510000L), (2, 0, 1, 490000L), (3, 0, 1, 505000L),
      // edge (0,2): sign-balanced noise
      (0, 0, 2, 200000L), (1, 0, 2, -250000L), (2, 0, 2, 30000L), (3, 0, 2, -10000L),
      // edge (1,3): identical z in every session → zero variance → NULL t
      (0, 1, 3, 300000L), (1, 1, 3, 300000L), (2, 1, 3, 300000L), (3, 1, 3, 300000L),
    ).toDF("g", "p1", "p2", "z_fp")
    def run(alpha: Double) = graft.queries.DesignImage
      .edgeInferenceCore(spark, facts, alpha)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Long]), r.getBoolean(7)))).toMap
    val loose = run(1.0) // every ranked p ≤ rk·1.0 → all ranked edges reject
    val (pStrong, rkStrong, rejStrong) = loose((0, 1))
    assert(rkStrong === Some(1L) && rejStrong, s"strong edge $pStrong $rkStrong")
    assert(pStrong.get < loose((0, 2))._1.get, "consistent edge must out-rank noise")
    assert(loose((0, 2))._3, "alpha/m = 1 rejects every ranked edge")
    val (pNull, rkNull, rejNull) = loose((1, 3))
    assert(pNull.isEmpty && rkNull.isEmpty && !rejNull,
      "zero-variance edge must be NULL-p, unranked, not rejected")
    val strict = run(1e-4) // kbh = 0 → nothing rejected
    assert(strict.values.forall(!_._3), "alpha/m ~ 0 rejects nothing")
  }

  // ---- q205 CCNet perplexity buckets ----------------------------------------

  test("q205: bucket membership is by value cutoff - ties share a bucket, order is by model fit") {
    val s = spark
    import s.implicits._
    // model trains on even doc_ids: "aa" is the frequent (head-cheap)
    // token. Nine odd+even docs in one lang: three fluent (all "aa"),
    // three mixed, three OOV-heavy - the three ppl values split 3/3/3
    // into head/middle/tail, and all ties of a value share one bucket.
    val docs = (
      (0L until 6L).map(i => (i, "en", "aa aa aa aa")) ++ // trains + scores head
      Seq((7L, "en", "aa aa bb bb"), (9L, "en", "aa bb aa bb"),
        (11L, "en", "bb aa bb aa"),
        (13L, "en", "zz zz zz zz"), (15L, "en", "zz yy zz yy"),
        (17L, "en", "yy zz yy zz"))).toDF("doc_id", "lang", "text")
    val out = graft.queries.Retrieval.pplBucketsCore(docs)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getString(4)))).toMap
    val fluent = (0L until 6L).map(out(_))
    assert(fluent.forall(_._2 == "head"), s"all-'aa' docs are head: $fluent")
    assert(Seq(7L, 9L, 11L).forall(out(_)._2 == "middle"),
      "equal-ppl mixed docs share the middle bucket")
    assert(Seq(13L, 15L, 17L).forall(out(_)._2 == "tail"),
      "OOV-heavy docs land in the tail")
    assert(out(0L)._1 < out(7L)._1 && out(7L)._1 < out(13L)._1,
      "bucket order tracks model fit")
  }

  test("q209: mill = 1000 sampled cutoffs degenerate to q205's full buckets; an empty sample labels all-head") {
    val s = spark
    import s.implicits._
    val docs = (
      (0L until 6L).map(i => (i, "en", "aa aa aa aa")) ++
      Seq((7L, "en", "aa aa bb bb"), (9L, "en", "aa bb aa bb"),
        (11L, "en", "bb aa bb aa"),
        (13L, "en", "zz zz zz zz"), (15L, "en", "zz yy zz yy"),
        (17L, "en", "yy zz yy zz"))).toDF("doc_id", "lang", "text")
    val full = graft.queries.Retrieval.pplBucketsCore(docs)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val sampled = graft.queries.Retrieval.pplBucketsSampledCore(docs, 1000)
      .collect().map(r => r.getLong(1) -> r.getString(5)).toMap
    assert(sampled === full, s"mill=1000 must equal the full cutoffs: $sampled vs $full")
    // mill = 0: no doc passes the gate, cutoffs are NULL per lang →
    // every doc labels 'head' and none is dropped by the left join
    val empty = graft.queries.Retrieval.pplBucketsSampledCore(docs, 0)
      .collect().map(r => r.getLong(1) -> r.getString(5)).toMap
    assert(empty.keySet === full.keySet && empty.values.forall(_ == "head"),
      s"empty sample: keep every doc, label head: $empty")
  }

  // ---- q196 NBS component extent -------------------------------------------

  test("q196: a consistent suprathreshold subgraph rejects at the component grain; noise and degenerate edges stay out") {
    val s = spark
    import s.implicits._
    // 12 sessions (the production GRuns = 4 cannot reach p < 0.05 — the
    // sign-flip floor; 12 units push the near-same-sign pattern fraction
    // low enough for the gate to fire). Edges 0-1, 1-2, 2-3 carry a
    // strong consistent z (per-session jitter keeps the flip t defined);
    // 4-5 alternates sign (sub-threshold); 6-7 is CONSTANT z (zero
    // variance -> NULL t_obs -> excluded from the observed graph).
    val strong = for (g <- 0 until 12; (a, b) <- Seq((0, 1), (1, 2), (2, 3)))
      yield (g, a, b, 1000000L + 1000L * g + 137L * a)
    val noise = (0 until 12).map(g =>
      (g, 4, 5, (if (g % 2 == 0) 1L else -1L) * 50000L))
    val degen = (0 until 12).map(g => (g, 6, 7, 777777L))
    val facts = (strong ++ noise ++ degen).toDF("g", "p1", "p2", "z_fp")
    val out = graft.queries.DesignImage.nbsCore(spark, facts, 3.0)
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.keySet === Set(0), s"only the strong component: $out")
    val (nn, ne, p, rej) = out(0)
    assert(nn === 4L && ne === 3L, s"component shape $nn/$ne")
    assert(p < 0.05 && rej, s"strong component must reject: p=$p")
  }

  // ---- q184 connectome path metrics ----------------------------------------

  test("q184: path graph distances, eccentricity, nodal/global efficiency, isolate") {
    val s = spark
    import s.implicits._
    // 0—1—2—3 path; parcel 4 appears only through a non-edge pair → isolate
    val pe = Seq((0, 1, 1L), (1, 2, 1L), (2, 3, 1L), (0, 4, 0L))
      .toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.pathMetricsCore(pe)
      .collect().map(r => r.getInt(0) -> ((
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2),
        r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
        r.getDouble(5)))).toMap
    assert(out.keySet === Set(0, 1, 2, 3, 4))
    assert(out(0) === ((Some(3L), 3L, 0.458333, Some(1.666667), 0.433333)), s"${out(0)}")
    assert(out(1) === ((Some(2L), 3L, 0.625, Some(1.666667), 0.433333)))
    assert(out(2) === ((Some(2L), 3L, 0.625, Some(1.666667), 0.433333)))
    assert(out(3) === ((Some(3L), 3L, 0.458333, Some(1.666667), 0.433333)))
    assert(out(4) === ((None, 0L, 0.0, Some(1.666667), 0.433333)),
      "isolate: NULL ecc, zero reach/efficiency")
  }

  test("q184: doubling rounds follow the input's node count, not the atlas constant") {
    val s = spark
    import s.implicits._
    // a 21-node path: diameter 20 > 2^4 = 16, the coverage the old
    // connNP-derived round count (ceil(log2(12)) = 4) silently missed
    val n = 21
    val pe = (0 until n - 1).map(i => (i, i + 1, 1L)).toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.pathMetricsCore(pe)
      .collect().map(r => r.getInt(0) -> ((
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))).toMap
    assert(out.size === n)
    assert(out(0) === ((Some(20L), 20L)), s"endpoint sees the far end: ${out(0)}")
    assert(out(10) === ((Some(10L), 20L)), "midpoint eccentricity is n/2")
  }

  test("q203: power-iteration centrality - path interior beats ends, star center is 1, isolate is 0") {
    val s = spark
    import s.implicits._
    // path 0-1-2-3-4: (A+I)^4·1 = [35,60,69,60,35] exactly
    val path = (0 until 4).map(i => (i, i + 1, 1L)).toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.eigenCentralityCore(path)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out(0) === ((35L, Some(0.507246))) && out(1) === ((60L, Some(0.869565))) &&
      out(2) === ((69L, Some(1.0))) && out(3) === ((60L, Some(0.869565))) &&
      out(4) === ((35L, Some(0.507246))), s"path centrality: $out")
    // star 0-{1,2,3} + isolate 9: (A+I)·x has a unique dominant vector on
    // the bipartite star (plain A·x would TIE hub and leaves at even
    // steps); hub (A+I)⁴ mass = 76, leaves 44, the isolate keeps its
    // initial unit only
    val star = Seq((0, 1, 1L), (0, 2, 1L), (0, 3, 1L), (0, 9, 0L))
      .toDF("p1", "p2", "edge")
    val so = graft.queries.DesignImage.eigenCentralityCore(star)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(so(0) === ((76L, Some(1.0))), s"hub: ${so(0)}")
    assert(so(1) === ((44L, Some(0.578947))) && so(1) === so(2) && so(2) === so(3))
    assert(so(9) === ((1L, Some(0.013158))),
      s"isolate keeps only its unit mass: ${so(9)}")
  }

  test("q204: connector vs provincial roles - exact PC; within-module z from exact moments") {
    val s = spark
    import s.implicits._
    // modules are p % 3: {0,3,6} m0, {1,4} m1, {2,5} m2. Node 0 spreads
    // one edge into each of three modules -> PC = 1 - 3·(1/3)² = 2/3;
    // node 3 keeps both edges inside m0 -> PC = 1 - 1 = 0 (provincial);
    // node 9 (m0) is an isolate via a non-edge pair -> NULL pc, k = 0.
    val pe = Seq(
      (0, 3, 1L), (0, 1, 1L), (0, 2, 1L), // node 0: m0+m1+m2
      (3, 6, 1L),                         // node 3: second intra-m0 edge
      (4, 9, 0L),                         // brings isolate 9 (m0) in
    ).toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.moduleRolesCore(pe)
      .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    val (m0, k0, kin0, pc0, _) = out(0)
    assert(m0 === 0 && k0 === 3L && kin0 === 1L && pc0 === Some(0.666667),
      s"connector: ${out(0)}")
    val (_, k3, kin3, pc3, z3) = out(3)
    assert(k3 === 2L && kin3 === 2L && pc3 === Some(0.0), s"provincial: ${out(3)}")
    // m0 within-degrees: {0->1, 3->2, 6->1, 9->0}: mean 1, var 0.5
    assert(z3 === Some(BigDecimal((2 - 1.0) / math.sqrt(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(9) === ((0, 0L, 0L, None, Some(BigDecimal(-1.0 / math.sqrt(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))),
      s"isolate: ${out(9)}")
  }

  test("q208: label propagation recovers two planted cliques; the bridge node reads connector") {
    val s = spark
    import s.implicits._
    // two 3-cliques {0,1,2} and {10,11,12} joined by one bridge 2-10
    val pe = Seq(
      (0, 1, 1L), (0, 2, 1L), (1, 2, 1L),
      (10, 11, 1L), (10, 12, 1L), (11, 12, 1L),
      (2, 10, 1L),
    ).toDF("p1", "p2", "edge")
    val mods = graft.queries.DesignImage.lpaModules(pe)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(Seq(0, 1, 2).map(mods).distinct.size === 1, s"clique A one module: $mods")
    assert(Seq(10, 11, 12).map(mods).distinct.size === 1, s"clique B one module: $mods")
    assert(mods(0) !== mods(10), s"cliques must get DISTINCT modules: $mods")
    val roles = graft.queries.DesignImage.moduleRolesWith(pe,
      graft.queries.DesignImage.lpaModules(pe))
      .collect().map(r => r.getInt(0) ->
        ((Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // bridge endpoints spread 1 of their 3 edges across the cut:
    // PC = 1 - ((2/3)² + (1/3)²) = 4/9; pure clique members PC = 0
    assert(roles(2) === Some(0.444444) && roles(10) === Some(0.444444),
      s"bridge nodes are the connectors: $roles")
    assert(roles(0) === Some(0.0) && roles(11) === Some(0.0),
      s"interior clique nodes are provincial: $roles")
  }

  test("q212: modularity Q hits the textbook two-clique values (5/14 bridged, 1/2 disconnected)") {
    val s = spark
    import s.implicits._
    val bridged = Seq(
      (0, 1, 1L), (0, 2, 1L), (1, 2, 1L),
      (10, 11, 1L), (10, 12, 1L), (11, 12, 1L),
      (2, 10, 1L),
    ).toDF("p1", "p2", "w")
    def q(pe: org.apache.spark.sql.DataFrame): Double =
      graft.queries.DesignImage.modularityWeightedCore(pe,
        graft.queries.DesignImage.lpaModules(pe))
        .head().getAs[Double]("q")
    // M=7, per clique e=3, d=7: Q = 2·(3/7 − (7/14)²) = 5/14
    assert(q(bridged) === BigDecimal(5.0 / 14.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, "bridged 5/14")
    // disconnected cliques: M=6, e=3, d=6 each: Q = 2·(1/2 − 1/4) = 1/2
    assert(q(bridged.filter("NOT (p1 = 2 AND p2 = 10)")) === 0.5,
      "disconnected 1/2")
    // per-module rows carry exact counts
    val rows = graft.queries.DesignImage.modularityWeightedCore(bridged,
      graft.queries.DesignImage.lpaModules(bridged))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows === Set((3L, 3L, 7L)), s"both modules read (n=3, e_in=3, d=7): $rows")
  }

  test("q208: derived rounds converge a planted chain (the fixed-4-rounds failure case)") {
    val s = spark
    import s.implicits._
    // an 8-node chain: the min-label flood needs n-1 = 7 hops — 4 fixed
    // rounds would emit a mid-propagation labeling (nodes 6, 7 unflooded)
    val pe = (0 until 7).map(i => (i, i + 1, 1L)).toDF("p1", "p2", "edge")
    val mods = graft.queries.DesignImage.lpaModules(pe)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(mods.values.toSet.size === 1,
      s"derived rounds must flood the whole chain to one label: $mods")
  }

  test("q208: a duplicate pair votes twice; maxRounds caps the round count") {
    val s = spark
    import s.implicits._
    // triangles {0,1,2} and {10,11,12}, node 5 between 2 and 10: once the
    // triangles settle, 5's vote ties label 0 against 10 and the lower
    // label wins — a duplicated 5-10 pair (either orientation) votes twice
    val bridged = Seq(
      (0, 1, 1L), (0, 2, 1L), (1, 2, 1L),
      (10, 11, 1L), (10, 12, 1L), (11, 12, 1L),
      (2, 5, 1L), (5, 10, 1L))
    def mods(rows: Seq[(Int, Int, Long)], maxRounds: Int = 0): Map[Int, Int] =
      graft.queries.DesignImage.lpaModules(rows.toDF("p1", "p2", "edge"), maxRounds)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(mods(bridged)(5) === 0, "single bridge pair: tie to the lower label")
    assert(mods(bridged :+ ((5, 10, 1L)))(5) === 10, "duplicate pair outvotes")
    assert(mods(bridged :+ ((10, 5, 1L)))(5) === 10, "reversed duplicate too")
    // an 8-node chain floods one hop per round: two rounds stop mid-flood
    val chain = (0 until 7).map(i => (i, i + 1, 1L))
    assert(mods(chain, maxRounds = 2) ===
      Map(0 -> 0, 1 -> 0, 2 -> 0, 3 -> 1, 4 -> 2, 5 -> 3, 6 -> 4, 7 -> 5))
    val g = graft.queries.GraphLoops.pin(chain.toDF("p1", "p2", "edge"), "spec")
    val (_, capped, cappedDone) = graft.queries.GraphLoops.lpa(g, 2, "spec")
    assert(capped === 2 && !cappedDone, "maxRounds = 2 runs exactly 2 rounds")
    // ≤ 0 ⇒ the node count: the flood settles exactly on round 8
    val (_, full, fullDone) = graft.queries.GraphLoops.lpa(g, 0, "spec")
    assert(full === 8 && fullDone, s"uncapped chain: $full rounds")
  }

  test("graph loops: an edge relation over the pin cap fails loudly, naming the site") {
    val s = spark
    import s.implicits._
    val pe = Seq((0, 1, 1L), (1, 2, 1L), (2, 3, 0L)).toDF("p1", "p2", "edge")
    val e = intercept[IllegalArgumentException](
      graft.queries.GraphLoops.pin(pe, "DesignImage.corenessCore", cap = 2))
    assert(e.getMessage.contains("DesignImage.corenessCore got > 2 rows"),
      e.getMessage)
    // at the cap the relation pins: 3 rows, 4 nodes (3 only via edge = 0)
    val g = graft.queries.GraphLoops.pin(pe, "DesignImage.corenessCore", cap = 3)
    assert(g.edgeRows === 3 && g.n === 4 && g.adj(3).isEmpty)
  }

  test("q241: flexibility counts exactly the planted movers under max-overlap carry-over") {
    val s = spark
    import s.implicits._
    // 6 nodes, 3 windows. w1, w2: cliques {0,1,2} | {3,4,5} (LPA labels
    // 0 and 3). w3: cliques {0,1,5} | {2,3,4} (labels 0 and 2).
    // Transition w1→w2: identical partitions — nobody moves. w2→w3:
    // to-module {0,1,5} overlaps from-0 by 2, from-3 by 1 → carries 0;
    // to-module {2,3,4} overlaps from-0 by 1, from-3 by 2 → carries 3.
    // Movers: node 2 (from 0, lands in the 3-carrying module) and node
    // 5 (from 3, lands in the 0-carrying module). Flexibility: 2 and 5
    // read 1/2, everyone else 0 — hand-traced end to end.
    def cl(ws: Long, m: Seq[Int]): Seq[(Long, Int, Int, Long)] =
      for { i <- m; j <- m if i < j } yield (ws, i, j, 1000000L)
    val nodes = 0 to 5
    def fill(ws: Long, edges: Seq[(Long, Int, Int, Long)]) = {
      val have = edges.map(e => (e._2, e._3)).toSet
      edges ++ (for { i <- nodes; j <- nodes if i < j && !have((i, j)) }
        yield (ws, i, j, 0L))
    }
    val wr = (fill(1L, cl(1L, Seq(0, 1, 2)) ++ cl(1L, Seq(3, 4, 5))) ++
      fill(2L, cl(2L, Seq(0, 1, 2)) ++ cl(2L, Seq(3, 4, 5))) ++
      fill(3L, cl(3L, Seq(0, 1, 5)) ++ cl(3L, Seq(2, 3, 4))))
      .toDF("ws", "p1", "p2", "r_fp")
    val out = graft.queries.DesignImage.dfcFlexibilityCore(wr)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(2) === ((2L, 1L, 0.5)), s"node 2 must read 1/2: $out")
    assert(out(5) === ((2L, 1L, 0.5)), s"node 5 must read 1/2: $out")
    Seq(0, 1, 3, 4).foreach(v =>
      assert(out(v) === ((2L, 0L, 0.0)), s"node $v must be rigid: $out"))
  }

  test("q240: Brandes betweenness — star center (n-1)(n-2), path interior, diamond half-paths") {
    val s = spark
    import s.implicits._
    def bc(edges: Seq[(Int, Int)], k: Int): Map[Int, Double] =
      graft.queries.DesignImage.betweennessCore(
        edges.map { case (a, b) => (a, b, 1L) }.toDF("p1", "p2", "edge"), k)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // star K1,5 (center 0), ALL 6 sources: center carries every
    // leaf-to-leaf ordered pair = (n-1)(n-2) = 20; leaves carry none.
    // sigma = 1 on every path, so the fixed-point arithmetic is exact.
    val star = bc((1 to 5).map(l => (0, l)), 6)
    assert(star(0) === 20.0, s"star center: $star")
    (1 to 5).foreach(l => assert(star(l) === 0.0, s"star leaf $l: $star"))
    // path 0-1-2-3, all sources: interior nodes each sit on 4 ordered
    // pairs ((0,2),(0,3),(3,1)... counted per direction), ends on none.
    val path = bc(Seq((0, 1), (1, 2), (2, 3)), 4)
    assert(path(0) === 0.0 && path(3) === 0.0, s"path ends: $path")
    assert(path(1) === 4.0 && path(2) === 4.0, s"path interior: $path")
    // 4-cycle 0-1, 0-2, 1-3, 2-3: every opposite pair (0↔3, 1↔2) has
    // TWO shortest paths (sigma = 2), so each node carries half a
    // dependency per direction of the pair it separates = 1.0 — pins
    // the sigma-ratio fixed-point term exactly (10^12 div 2, no
    // truncation).
    val dia = bc(Seq((0, 1), (0, 2), (1, 3), (2, 3)), 4)
    (0 to 3).foreach(v =>
      assert(dia(v) === 1.0, s"C4 half-dependencies: $dia"))
    // sampling gate: with the 2 lowest-id sources only (0 and 1), the
    // star center carries exactly the dependencies those pivots see —
    // source 0 contributes none (all targets adjacent), source 1 sends
    // 4 leaf targets through the center = 4.0.
    val star2 = bc((1 to 5).map(l => (0, l)), 2)
    assert(star2(0) === 4.0, s"2-pivot star center: $star2")
  }

  test("q240: sigma past int64 - a path of 8-fold pairs keeps the plain path's bc") {
    val s = spark
    import s.implicits._
    // 10-node path, every pair 8 times: sigma from node 0 reaches 8⁹, and
    // sigma_v·(10¹² + delta_w) at the last hop is 8⁸·10¹² > Long.MaxValue.
    // Each of the 8 entries carries (10¹² + delta_w) / 8 exactly, so every
    // dependency is the plain path's: bc(i) = 2·i·(9 − i) over all sources.
    val pairs = for (i <- 0 until 9; _ <- 0 until 8) yield (i, i + 1, 1L)
    val bc = graft.queries.DesignImage.betweennessCore(
      pairs.toDF("p1", "p2", "edge"), 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(bc === (0 to 9).map(i => i -> 2.0 * i * (9 - i)).toMap, s"$bc")
  }

  test("q247: weighted betweenness — the weighted diamond re-routes the binary center") {
    val s = spark
    import s.implicits._
    def bcw(edges: Seq[(Int, Int, Long)], k: Int): Map[Int, Double] =
      graft.queries.DesignImage.betweennessWeightedCore(
        edges.toDF("p1", "p2", "w"), k)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // Diamond 1-2-4 heavy (w = 10 ⇒ ℓ = 10¹¹) / 1-3-4 light (w = 1 ⇒
    // ℓ = 10¹²), all 4 sources. BINARY betweenness on this topology is
    // 1.0 everywhere (1↔4 and 2↔3 each split σ = 2 over the two
    // routes); WEIGHTED, every 1↔4 shortest path runs via 2 (2·10¹¹ <
    // 2·10¹²) so bc_w(2) = 2.0 and bc_w(3) = 0.0, while 2↔3 still
    // splits over 1 and 4 (both routes cost 1.1·10¹², σ = 2, the
    // half-dependency 10¹² div 2) giving bc_w(1) = bc_w(4) = 1.0 —
    // the planted case where the weighted and binary centers differ.
    val dia = bcw(Seq((1, 2, 10L), (2, 4, 10L), (1, 3, 1L), (3, 4, 1L)), 4)
    assert(dia(2) === 2.0 && dia(3) === 0.0, s"weighted re-route: $dia")
    assert(dia(1) === 1.0 && dia(4) === 1.0, s"sigma=2 halves: $dia")
    val bin = graft.queries.DesignImage.betweennessCore(
      Seq((1, 2), (2, 4), (1, 3), (3, 4)).map { case (a, b) => (a, b, 1L) }
        .toDF("p1", "p2", "edge"), 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    (1 to 4).foreach(v => assert(bin(v) === 1.0,
      s"binary diamond must NOT distinguish 2 from 3: $bin"))
    // equal weights degenerate to the binary answer: C4 at w = 5 keeps
    // every opposite pair at sigma = 2 → 1.0 everywhere (pins the
    // weighted sigma-ratio fixed point against q240's binary kernel).
    val c4 = bcw(Seq((0, 1, 5L), (0, 2, 5L), (1, 3, 5L), (2, 3, 5L)), 4)
    (0 to 3).foreach(v => assert(c4(v) === 1.0, s"C4 at equal w: $c4"))
  }

  test("q239: level 2 merges the triangle ring level 1 cannot (resolution limit)") {
    val s = spark
    import s.implicits._
    // Ring of 10 triangles (Fortunato & Barthélemy 2007's resolution-
    // limit witness): triangle t = {3t, 3t+1, 3t+2}, bridge 3t+2 →
    // 3(t+1) mod 30. M = 40. One-triangle-per-module Q = 3/4 − 1/r =
    // 0.65; merging ADJACENT triangles pays once r > 8 (pairs Q =
    // 7/8 − 2/r = 0.675) — but a single NODE can never leave a
    // triangle profitably, so level 1 is structurally stuck at the
    // triangles and only the level-2 supernode sweep can merge them.
    val pe = (0 until 10).flatMap { t =>
      val (a, b, c) = (3 * t, 3 * t + 1, 3 * t + 2)
      Seq((a, b, 1L), (a, c, 1L), (b, c, 1L),
        (c, (3 * (t + 1)) % 30, 1L))
    }.toDF("p1", "p2", "w")
    val l1 = graft.queries.DesignImage.louvainModules(pe)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val tri = (0 until 10).map(t => Seq(3 * t, 3 * t + 1, 3 * t + 2))
    tri.foreach(m => assert(m.map(l1).distinct.size === 1,
      s"level 1 must keep triangle $m intact: $l1"))
    assert(l1.values.toSet.size === 10,
      s"level 1 must stop at one module per triangle: $l1")
    val l2 = graft.queries.DesignImage.louvainTwoLevelModules(pe)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    tri.foreach(m => assert(m.map(l2).distinct.size === 1,
      s"level 2 must move whole triangles: $l2"))
    assert(l2.values.toSet.size < 10,
      s"level 2 must merge some adjacent triangles: $l2")
    def q(mods: org.apache.spark.sql.DataFrame): Double =
      graft.queries.DesignImage.modularityWeightedCore(pe, mods)
        .head().getAs[Double]("q")
    val q1 = q(graft.queries.DesignImage.louvainModules(pe))
    val q2 = q(graft.queries.DesignImage.louvainTwoLevelModules(pe))
    assert(q1 === 0.65, s"one module per triangle: $q1")
    assert(q2 > q1, s"the aggregation pass must raise Q: $q2 vs $q1")
  }

  test("q225: Louvain splits the path graph LPA floods — Q = 0.3 beats LPA's 0") {
    val s = spark
    import s.implicits._
    // path 0-1-2-3-4-5: LPA's min-label tie-break floods it to ONE
    // module (Q = 0); ΔQ-greedy finds the optimal {0,1,2} | {3,4,5}
    // split (M = 5, e_in = 2 each, d = 5 each: Q = 2·(2/5 − 1/4) = 0.3)
    val pe = (0 until 5).map(i => (i, i + 1, 1L)).toDF("p1", "p2", "w")
    val luv = graft.queries.DesignImage.louvainModules(pe)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(Seq(0, 1, 2).map(luv).distinct.size === 1 &&
      Seq(3, 4, 5).map(luv).distinct.size === 1 && luv(0) != luv(3),
      s"Louvain must find the two-halves split: $luv")
    def q(mods: org.apache.spark.sql.DataFrame): Double =
      graft.queries.DesignImage.modularityWeightedCore(pe, mods)
        .head().getAs[Double]("q")
    val qLouvain = q(graft.queries.DesignImage.louvainModules(pe))
    val qLpa = q(graft.queries.DesignImage.lpaModules(pe))
    assert(qLouvain === 0.3, s"optimal path split: $qLouvain")
    assert(qLpa === 0.0, s"LPA floods the path to one module: $qLpa")
    assert(qLouvain > qLpa)
    // sanity on the two-clique graph: Louvain recovers the cliques and
    // the textbook Q = 5/14, exactly like LPA (InferenceQcSpec q212 pin)
    val bridged = Seq(
      (0, 1, 1L), (0, 2, 1L), (1, 2, 1L),
      (10, 11, 1L), (10, 12, 1L), (11, 12, 1L),
      (2, 10, 1L),
    ).toDF("p1", "p2", "w")
    val qB = graft.queries.DesignImage.modularityWeightedCore(bridged,
      graft.queries.DesignImage.louvainModules(bridged))
      .head().getAs[Double]("q")
    assert(qB === BigDecimal(5.0 / 14.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"Louvain recovers the bridged cliques: $qB")
  }

  test("q229: k-means recovers planted alternating and blocked dFC states with exact dwell stats") {
    val s = spark
    import s.implicits._
    val A = Seq((0, 1, 1000000L), (0, 2, -1000000L))
    val B = Seq((0, 1, -1000000L), (0, 2, 1000000L))
    def wr(pattern: Seq[Seq[(Int, Int, Long)]]): org.apache.spark.sql.DataFrame =
      pattern.zipWithIndex.flatMap { case (vec, ws) =>
        vec.map { case (p1, p2, v) => (ws, p1, p2, v) }
      }.toDF("ws", "p1", "p2", "v")
    // alternating A,B,A,B,A: occupancy 3/2, every visit lasts 1 window
    val alt = graft.queries.DesignImage.dfcStatesFromVectors(
      wr(Seq(A, B, A, B, A)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(alt(0) === ((3L, 0.6, 3L, 1.0)), s"state A: ${alt(0)}")
    assert(alt(1) === ((2L, 0.4, 2L, 1.0)), s"state B: ${alt(1)}")
    // blocked B,A,A,B,B: state 0 (seeded by window 0 = B) owns 3 windows
    // in 2 visits (dwell 1.5); state 1 (A) owns 2 in one visit (dwell 2)
    val blk = graft.queries.DesignImage.dfcStatesFromVectors(
      wr(Seq(B, A, A, B, B)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(blk(0) === ((3L, 0.6, 2L, 1.5)), s"state B: ${blk(0)}")
    assert(blk(1) === ((2L, 0.4, 1L, 2.0)), s"state A: ${blk(1)}")
  }

  test("q230: weighted Louvain keeps the heavy pair the unweighted detector splits") {
    val s = spark
    import s.implicits._
    // path 0-1-2-3-4-5 with a HEAVY middle edge: unweighted Louvain cuts
    // 2-3 (the {0,1,2} | {3,4,5} split — q225 spec); the weighted gain
    // must refuse to cut the dominant edge and put 2 and 3 together
    val wp = Seq((0, 1, 1L), (1, 2, 1L), (2, 3, 10L), (3, 4, 1L), (4, 5, 1L))
      .toDF("p1", "p2", "w")
    val luv = graft.queries.DesignImage.louvainModules(wp)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(luv(2) === luv(3), s"the heavy edge must stay intra-module: $luv")
    assert(luv.values.toSet.size > 1, s"and the path must still split: $luv")
  }

  test("q230/q239: Louvain gains past int64 keep the exact partitions") {
    val s = spark
    import s.implicits._
    // Every gain (2W·w − s·Σtot, 2W·w₁₂ − d₁·d₂) is a sum of products of
    // two weight sums, so scaling all weights by u = 10⁹ scales every gain
    // by u² and must leave both levels' partitions unchanged — while
    // 2W·w_ic and 2W·w₁₂ pass Long.MaxValue ≈ 9.2·10¹⁸.
    val u = 1000000000L
    def mods(out: org.apache.spark.sql.DataFrame): Map[Int, Int] =
      out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    // Level 1: the heavy-middle path (weights 1,1,10,1,1 in units of u):
    // s = 1,2,11,11,2,1, 2W = 28. Round 0 moves the even ids: 0 → {1}
    // (gain 28·1 − 1·2 = 26 > 0), 2 → {3} (28·10 − 11·11 = 159 beats
    // {1}'s 28 − 11·2 = 6), 4 → {5} (26 beats {3}'s 6). Every later move
    // loses: 1 → {2,3} reads 28 − 2·22 = −16 against staying at 26, 3 →
    // {4,5} reads 28 − 11·3 = −5 against 159. Here 2W·w₂₃ = 2.8·10²⁰.
    val path = Seq((0, 1, 1L), (1, 2, 1L), (2, 3, 10L), (3, 4, 1L), (4, 5, 1L))
      .map { case (a, b, w) => (a, b, w * u) }.toDF("p1", "p2", "w")
    assert(mods(graft.queries.DesignImage.louvainModules(path)) ===
      Map(0 -> 1, 1 -> 1, 2 -> 3, 3 -> 3, 4 -> 5, 5 -> 5))
    // Level 2: the q239 ring of 10 triangles T0…T9 at weight u, where
    // level 1 keeps the triangles (labels 1, 3, 7, 9, …, 25, 27). 2W = 80,
    // each triangle's d = 8, so a triangle pair gains 80·1 − 8·8 = 16 and
    // a pair against a merged pair 80 − 16·8 < 0. Ties go to the lower
    // partner, so round r merges exactly T(2r−2) with T(2r−1): after the
    // 4 rounds T8 and T9 stand alone. Here 2W·w₁₂ = 8·10¹⁹.
    val ring = (0 until 10).flatMap { t =>
      val (a, b, c) = (3 * t, 3 * t + 1, 3 * t + 2)
      Seq((a, b, u), (a, c, u), (b, c, u), (c, (3 * (t + 1)) % 30, u))
    }.toDF("p1", "p2", "w")
    val l2 = mods(graft.queries.DesignImage.louvainTwoLevelModules(ring))
    val expected = (0 until 30).map(p =>
      p -> (if (p < 24) 6 * (p / 6) + 1 else if (p < 27) 25 else 27)).toMap
    assert(l2 === expected, s"$l2")
  }

  test("q231: the transition matrix counts the planted state sequence exactly") {
    val s = spark
    import s.implicits._
    val A = Seq((0, 1, 1000000L), (0, 2, -1000000L))
    val B = Seq((0, 1, -1000000L), (0, 2, 1000000L))
    def wr(pattern: Seq[Seq[(Int, Int, Long)]]): org.apache.spark.sql.DataFrame =
      pattern.zipWithIndex.flatMap { case (vec, ws) =>
        vec.map { case (p1, p2, v) => (ws, p1, p2, v) }
      }.toDF("ws", "p1", "p2", "v")
    // B,A,A,B,B → state sequence 0,1,1,0,0: transitions 0→1, 1→1, 1→0, 0→0
    val out = graft.queries.DesignImage.dfcTransitionsFromVectors(
      wr(Seq(B, A, A, B, B)))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out((0, 0)) === ((1L, Some(0.5))), s"${out((0, 0))}")
    assert(out((0, 1)) === ((1L, Some(0.5))), s"${out((0, 1))}")
    assert(out((1, 0)) === ((1L, Some(0.5))), s"${out((1, 0))}")
    assert(out((1, 1)) === ((1L, Some(0.5))), s"${out((1, 1))}")
    // a never-left state reads NULL p on its whole row block
    val onep = graft.queries.DesignImage.dfcTransitionsFromVectors(
      wr(Seq(A, B, B, B, B))) // 0→1 once, then 1→1 forever
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(onep((0, 1)) === ((1L, Some(1.0))) && onep((1, 1)) === ((3L, Some(1.0))),
      s"$onep")
    assert(onep((1, 0)) === ((0L, Some(0.0))), s"${onep((1, 0))}")
  }

  test("q232: Barrat weighted clustering matches hand arithmetic and reduces to binary C") {
    val s = spark
    import s.implicits._
    // triangle 0-1-2 (w 1, 2, 3) + pendant 0-3 (w 4)
    val wp = Seq((0, 1, 1L), (0, 2, 2L), (1, 2, 3L), (0, 3, 4L))
      .toDF("p1", "p2", "w")
    val out = graft.queries.DesignImage.weightedClusteringCore(wp)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // node 0: k=3, s=7, one triangle, nsum = w01+w02 = 3 → 3/(7·2)
    assert(out(0) === ((3L, 7L, 1L, Some(0.214286))), s"${out(0)}")
    assert(out(1) === ((2L, 4L, 1L, Some(1.0))), s"${out(1)}")
    assert(out(2) === ((2L, 5L, 1L, Some(1.0))), s"${out(2)}")
    assert(out(3) === ((1L, 4L, 0L, None)), s"pendant: ${out(3)}")
    // unit weights: C reduces to the binary clustering coefficient
    val unit = graft.queries.DesignImage.weightedClusteringCore(
      Seq((0, 1, 1L), (0, 2, 1L), (1, 2, 1L), (0, 3, 1L)).toDF("p1", "p2", "w"))
      .collect().map(r => r.getInt(0) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(unit(0) === Some(0.333333) && unit(1) === Some(1.0), s"$unit")
  }

  test("q236: Rand index reads 1 for repeated partitions and 7/15 for the planted reshuffle") {
    val s = spark
    import s.implicits._
    val hi = 1000000L
    // window graphs as (ws, p1, p2, r_fp): triangles get r_fp = 1e6,
    // every other pair 0 (pulls all 6 nodes into each window's set)
    def win(ws: Int, tris: Seq[(Int, Int)]): Seq[(Int, Int, Int, Long)] = {
      val t = tris.toSet
      (0 until 6).flatMap(i => (i + 1 until 6).map(j =>
        (ws, i, j, if (t((i, j))) hi else 0L)))
    }
    val triA = Seq((0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)) // {012}{345}
    val triB = Seq((0, 1), (0, 3), (1, 3), (2, 4), (2, 5), (4, 5)) // {013}{245}
    val wr = (win(0, triA) ++ win(1, triA) ++ win(2, triB))
      .toDF("ws", "p1", "p2", "r_fp")
    val out = graft.queries.DesignImage.dfcModuleStabilityCore(wr)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out((0, 1)) === ((15L, 15L, 1.0)), s"identical partitions: ${out((0, 1))}")
    // {012}{345} vs {013}{245}: same-pairs agree on (01),(45); apart-
    // pairs agree on 5 of the rest → RI = 7/15
    assert(out((1, 2)) === ((15L, 7L, 0.466667)), s"reshuffle: ${out((1, 2))}")
    assert(out.size === 2)
  }

  test("q256: allegiance averages co-classification over the q236 planted windows") {
    val s = spark
    import s.implicits._
    val hi = 1000000L
    // the q236 planted calendar: windows 0,1 = {012}{345}, window 2 =
    // {013}{245}. Allegiance over 3 windows: (0,1) together in all 3
    // → 1.0; (0,2) in 0,1 only → 2/3; (0,3) in 2 only → 1/3; (2,4)
    // in 2 only → 1/3; (0,4) never → 0. Label identity per window is
    // arbitrary — only within-window equality may be read.
    def win(ws: Int, tris: Seq[(Int, Int)]): Seq[(Int, Int, Int, Long)] = {
      val t = tris.toSet
      (0 until 6).flatMap(i => (i + 1 until 6).map(j =>
        (ws, i, j, if (t((i, j))) hi else 0L)))
    }
    val triA = Seq((0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5))
    val triB = Seq((0, 1), (0, 3), (1, 3), (2, 4), (2, 5), (4, 5))
    val wr = (win(0, triA) ++ win(1, triA) ++ win(2, triB))
      .toDF("ws", "p1", "p2", "r_fp")
    val out = graft.queries.DesignImage.moduleAllegianceCore(wr)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size === 15, s"all C(6,2) pairs expected: ${out.keySet}")
    assert(out((0, 1)) === ((3L, 3L, Some(1.0))), s"01: $out")
    assert(out((0, 2)) === ((3L, 2L, Some(0.666667))), s"02: $out")
    assert(out((0, 3)) === ((3L, 1L, Some(0.333333))), s"03: $out")
    assert(out((2, 4)) === ((3L, 1L, Some(0.333333))), s"24: $out")
    assert(out((0, 4)) === ((3L, 0L, Some(0.0))), s"04: $out")
  }

  test("q257: recruitment reads home-system cohesion, integration the outward coupling") {
    val s = spark
    import s.implicits._
    val hi = 1000000L
    // the q236/q256 planted calendar (windows 0,1 = {012}{345},
    // window 2 = {013}{245}) against the STATIC partition {012}{345}.
    // Node 0 within {1,2}: together (0,1) 3/3 + (0,2) 2/3 → 5/6;
    // between {3,4,5}: only (0,3) in window 2 → 1/9.
    // Node 2 within: (2,0) 2 + (2,1) 2 → 4/6; between: (2,4),(2,5) in
    // window 2 → 2/9. Node 4 within: (4,3) 2 + (4,5) 3 → 5/6.
    def win(ws: Int, tris: Seq[(Int, Int)]): Seq[(Int, Int, Int, Long)] = {
      val t = tris.toSet
      (0 until 6).flatMap(i => (i + 1 until 6).map(j =>
        (ws, i, j, if (t((i, j))) hi else 0L)))
    }
    val triA = Seq((0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5))
    val triB = Seq((0, 1), (0, 3), (1, 3), (2, 4), (2, 5), (4, 5))
    val wr = (win(0, triA) ++ win(1, triA) ++ win(2, triB))
      .toDF("ws", "p1", "p2", "r_fp")
    val mods = Seq((0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)).toDF("p", "m")
    val out = graft.queries.DesignImage.recruitmentCore(wr, mods)
      .collect().map(r => r.getInt(0) -> ((r.getInt(1),
        r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
        r.getLong(5), r.getLong(6), Option(r.get(7)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size === 6)
    assert(out(0) === ((0, 6L, 5L, Some(0.833333), 9L, 1L, Some(0.111111))), s"n0: $out")
    assert(out(2) === ((0, 6L, 4L, Some(0.666667), 9L, 2L, Some(0.222222))), s"n2: $out")
    assert(out(4) === ((1, 6L, 5L, Some(0.833333), 9L, 1L, Some(0.111111))), s"n4: $out")
    // a single-member module must read NULL recruitment, never 0
    val solo = graft.queries.DesignImage.recruitmentCore(wr,
      Seq((0, 7), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)).toDF("p", "m"))
      .collect().map(r => r.getInt(0) -> Option(r.get(4))).toMap
    assert(solo(0).isEmpty, s"solo module: $solo")
  }

  test("q226: weighted modularity hits the hand-computed two-clique value") {
    val s = spark
    import s.implicits._
    // two w=4 cliques + a w=1 bridge; modules = the cliques.
    // W = 25, w_in = 12 each, s_m = 25 each:
    // Qw = 2·(12/25 − (25/50)²) = 0.46
    val wp = Seq(
      (0, 1, 4L), (0, 2, 4L), (1, 2, 4L),
      (10, 11, 4L), (10, 12, 4L), (11, 12, 4L),
      (2, 10, 1L),
    ).toDF("p1", "p2", "w")
    val mods = Seq((0, 0), (1, 0), (2, 0), (10, 1), (11, 1), (12, 1))
      .toDF("p", "m")
    val out = graft.queries.DesignImage.modularityWeightedCore(wp, mods)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getAs[Double]("q")))).toMap
    assert(out(0) === ((3L, 12L, 25L, 0.46)), s"${out(0)}")
    assert(out(1) === ((3L, 12L, 25L, 0.46)), s"${out(1)}")
  }

  test("q227: a WEAK bridge between heavy cliques reads phi_w < 1 at the hub level") {
    val s = spark
    import s.implicits._
    val wp = Seq(
      (0, 1, 4L), (0, 2, 4L), (1, 2, 4L),
      (10, 11, 4L), (10, 12, 4L), (11, 12, 4L),
      (2, 10, 1L), // the hubs' only mutual edge is the WEAKEST in the graph
    ).toDF("p1", "p2", "w")
    val out = graft.queries.DesignImage.richClubWeightedCore(wp)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // k=1: every node (deg ≥ 2), all 7 edges, w 25; top-7 = 25 → 1.0
    assert(out(1L) === ((6L, 7L, 25L, Some(1.0))), s"${out(1L)}")
    // k=2: hubs {2,10}, one mutual edge w=1; top-1 weight is 4 → 0.25
    assert(out(2L) === ((2L, 1L, 1L, Some(0.25))), s"${out(2L)}")
  }

  test("q228: a star is perfectly strength-disassortative (r = -1)") {
    val s = spark
    import s.implicits._
    val wp = Seq((0, 1, 1L), (0, 2, 1L), (0, 3, 1L)).toDF("p1", "p2", "w")
    val r = graft.queries.DesignImage.assortativityWeightedCore(wp).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((6L, 12L, 18L, 30L)), s"$r")
    assert(r.getAs[Double]("r_assort") === -1.0)
  }

  test("q213: two planted cliques with one bridge — the bridge endpoints ARE the rich club") {
    val s = spark
    import s.implicits._
    val pe = Seq(
      (0, 1, 1L), (0, 2, 1L), (1, 2, 1L),
      (10, 11, 1L), (10, 12, 1L), (11, 12, 1L),
      (2, 10, 1L),
    ).toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.richClubCore(pe)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // kmax = 3 → levels k ∈ {1, 2}
    assert(out.keySet === Set(1L, 2L), s"levels: ${out.keySet}")
    // k=1: all 6 nodes have deg ≥ 2, all 7 edges qualify → 14/30
    assert(out(1L) === ((6L, 7L, Some(0.466667))), s"${out(1L)}")
    // k=2: only the deg-3 bridge endpoints {2, 10} and their one edge —
    // a perfect rich club, phi = 1
    assert(out(2L) === ((2L, 1L, Some(1.0))), s"${out(2L)}")
    // an edgeless graph sweeps zero levels (the sequence guard)
    val empty = graft.queries.DesignImage.richClubCore(
      Seq((0, 1, 0L)).toDF("p1", "p2", "edge")).collect()
    assert(empty.isEmpty, "edgeless graph must yield an empty sweep")
  }

  test("q214: star is perfectly disassortative (r = -1), regular graph undefined, P4 = -1/2") {
    val s = spark
    import s.implicits._
    def r(rows: Seq[(Int, Int, Long)]): (Long, Long, Long, Long, Option[Double]) = {
      val row = graft.queries.DesignImage
        .assortativityWeightedCore(rows.toDF("p1", "p2", "w")).head()
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        Option(row.get(4)).map(_.asInstanceOf[Double]))
    }
    // K1,3: every edge joins deg-3 to deg-1 → Newman r = −1 exactly
    val star = r(Seq((0, 1, 1L), (0, 2, 1L), (0, 3, 1L)))
    assert(star === ((6L, 12L, 18L, 30L, Some(-1.0))), s"star: $star")
    // triangle is 2-regular: denominator 0 → NULL
    assert(r(Seq((0, 1, 1L), (1, 2, 1L), (0, 2, 1L)))._5.isEmpty,
      "regular graph must be NULL")
    // P4 path: degrees 1,2,2,1 → r = −1/2 (hand value)
    assert(r(Seq((0, 1, 1L), (1, 2, 1L), (2, 3, 1L)))._5 === Some(-0.5))
    // empty graph: one all-zero row, NULL r
    val e = r(Seq((0, 1, 0L)))
    assert(e === ((0L, 0L, 0L, 0L, None)), s"empty: $e")
  }

  test("q215: H-index iteration peels the planted onion to exact coreness") {
    val s = spark
    import s.implicits._
    // K4 {0,1,2,3} + triangle {3,4,5} + pendant 5-6 + isolate 7
    val onion = Seq(
      (0, 1, 1L), (0, 2, 1L), (0, 3, 1L), (1, 2, 1L), (1, 3, 1L), (2, 3, 1L),
      (3, 4, 1L), (3, 5, 1L), (4, 5, 1L),
      (5, 6, 1L),
      (6, 7, 0L),
    ).toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.corenessCore(onion)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0) === ((3L, 3L)) && out(1) === ((3L, 3L)) &&
      out(2) === ((3L, 3L)), s"K4 members are the 3-core: $out")
    assert(out(3) === ((5L, 3L)), "the deg-5 hinge still cores at 3")
    assert(out(4) === ((2L, 2L)) && out(5) === ((3L, 2L)),
      s"triangle layer cores at 2: $out")
    assert(out(6) === ((1L, 1L)), "pendant cores at 1")
    assert(out(7) === ((0L, 0L)), "isolate cores at 0")
  }

  test("q215: the fixed round count has converged — 2x rounds change nothing, even on a diameter-11 path") {
    val s = spark
    import s.implicits._
    val shapes = Seq(
      // the slowest eroder at this node count: a 12-node path (coreness
      // all 1, the end-erosion travels one hop per round)
      (0 until 11).map(i => (i, i + 1, 1L)),
      // onion from the exactness test
      Seq((0, 1, 1L), (0, 2, 1L), (0, 3, 1L), (1, 2, 1L), (1, 3, 1L),
        (2, 3, 1L), (3, 4, 1L), (3, 5, 1L), (4, 5, 1L), (5, 6, 1L), (6, 7, 0L)),
      // two cliques + bridge
      Seq((0, 1, 1L), (0, 2, 1L), (1, 2, 1L), (10, 11, 1L), (10, 12, 1L),
        (11, 12, 1L), (2, 10, 1L)),
    )
    shapes.foreach { rows =>
      val pe = rows.toDF("p1", "p2", "edge")
      val base = graft.queries.DesignImage.corenessCore(pe)
        .collect().map(_.toString).sorted.toSeq
      val twice = graft.queries.DesignImage.corenessCore(pe, rounds = 24)
        .collect().map(_.toString).sorted.toSeq
      assert(base === twice, s"fixed rounds not converged on $rows")
    }
    // and the path really is all-coreness-1
    val path = (0 until 11).map(i => (i, i + 1, 1L)).toDF("p1", "p2", "edge")
    val cs = graft.queries.DesignImage.corenessCore(path)
      .collect().map(_.getLong(2)).toSet
    assert(cs === Set(1L), s"path coreness: $cs")
    // the REAL fixture graph has converged too (not just planted shapes)
    val fixture = graft.queries.DesignImage.corenessPairs(spark, sf001)
      .localCheckpoint()
    val fa = graft.queries.DesignImage.corenessCore(fixture)
      .collect().map(_.toString).sorted.toSeq
    val fb = graft.queries.DesignImage.corenessCore(fixture, rounds = 24)
      .collect().map(_.toString).sorted.toSeq
    assert(fa === fb, "fixture coreness not converged at the fixed rounds")
  }

  test("q217: the percolation curve disintegrates the planted chain threshold by threshold") {
    val s = spark
    import s.implicits._
    // 5-node chain with descending tie strengths + one NULL pair
    val pe = Seq(
      (0, 1, Some(0.45)), (1, 2, Some(0.35)), (2, 3, Some(0.25)),
      (3, 4, Some(0.15)), (0, 4, None),
    ).toDF("p1", "p2", "r_par")
    val out = graft.queries.DesignImage.percolationCore(pe)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(out.keySet === Set(10L, 15L, 20L, 25L, 30L, 35L, 40L))
    // τ=0.10/0.15: whole chain — one component spanning all 5
    assert(out(10L) === ((4L, 5L, 1L, 5L, Some(1.0))), s"${out(10L)}")
    assert(out(15L) === ((4L, 5L, 1L, 5L, Some(1.0))))
    // τ=0.20/0.25: node 4 falls off → giant 4/5 + one singleton
    assert(out(20L) === ((3L, 4L, 2L, 4L, Some(0.8))), s"${out(20L)}")
    assert(out(25L) === ((3L, 4L, 2L, 4L, Some(0.8))))
    // τ=0.30/0.35: chain splits 3 + singletons
    assert(out(30L) === ((2L, 3L, 3L, 3L, Some(0.6))), s"${out(30L)}")
    // τ=0.40: one surviving edge → giant 2/5, components 1 + 3 singletons
    assert(out(40L) === ((1L, 2L, 4L, 2L, Some(0.4))), s"${out(40L)}")
  }

  test("q218: removing the star's hub craters efficiency; removing a leaf barely moves it") {
    val s = spark
    import s.implicits._
    // star: hub 0 with leaves 1, 2, 3
    val pe = Seq((0, 1, 1L), (0, 2, 1L), (0, 3, 1L)).toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.attackCore(pe)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // intact (k=0, both strategies): 6 ordered pairs at d=1, 6 at d=2 →
    // cpl = 1.5, eff = (6 + 6·0.5)/12 = 0.75
    assert(out(("hub", 0L)) === ((4L, 3L, Some(1.5), Some(0.75))), s"${out(("hub", 0L))}")
    assert(out(("leaf", 0L)) === out(("hub", 0L)), "k=0 is strategy-free")
    // hub attack k=1: node 0 (deg 3) removed → edgeless, eff = 0, cpl NULL
    assert(out(("hub", 1L)) === ((3L, 0L, None, Some(0.0))), s"${out(("hub", 1L))}")
    // leaf failure k=1: node 1 (deg 1, lowest id) removed → 2-leaf star:
    // 4 ordered pairs d=1, 2 at d=2 → cpl = 8/6, eff = 5/6
    assert(out(("leaf", 1L)) === ((3L, 2L,
      Some(BigDecimal(8.0 / 6.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      Some(BigDecimal(5.0 / 6.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))),
      s"${out(("leaf", 1L))}")
    // k=3 leaves a single node: efficiency undefined (n_rem < 2)
    assert(out(("hub", 3L)) === ((1L, 0L, None, None)))
    assert(out.keySet.size === 8, "2 strategies x k=0..3")
  }

  test("q223: a coupling flip is invisible to the static mean but lights up the dFC sd") {
    def base(t: Int) = (100 + 37 * (t % 7)).toLong
    // parcel 0 = A; parcel 7 = 2A (locked, r = +1 in every window);
    // parcel 2 tracks A for t < 15 then inverts (the coupling flip);
    // parcel 9 is flat (r undefined in every window)
    val rows = (0 until 30).flatMap { t =>
      val a = base(t)
      Seq((t, 0, 0, 0, a), (t, 1, 0, 0, 2L * a),
        (t, 2, 0, 0, if (t < 15) a else 1000L - a),
        (t, 3, 0, 0, 42L))
    }
    val out = graft.queries.DesignImage.dfcCore(plantedSeries(rows))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // locked pair: r = 1 in all 5 windows — mean 1, variability 0
    assert(out((0, 7)) === ((5L, Some(1.0), Some(0.0))), s"${out((0, 7))}")
    // flat parcel: no window ever correlates
    assert(out((0, 9)) === ((0L, None, None)), s"${out((0, 9))}")
    // the flipper: windows fully inside each regime read ±1, so the
    // across-window sd is large while |mean| stays small — the exact
    // signature static connectivity misses
    val (nw, mean, sd) = out((0, 2))
    assert(nw === 5L)
    assert(sd.exists(_ > 0.8), s"coupling flip must light up sd: $sd")
    assert(mean.exists(m => math.abs(m) < 0.3), s"static mean hides it: $mean")
  }

  test("q199: two components - per-component reach and efficiency, NULL ecc off edges") {
    val s = spark
    import s.implicits._
    // triangle 0-1-2, path 5-6-7, and parcel 3 only in a non-edge pair:
    // np = 7, so every nodal efficiency divides by 6
    val pe = Seq((0, 1, 1L), (1, 2, 1L), (2, 0, 1L), (5, 6, 1L), (6, 7, 1L),
      (3, 7, 0L)).toDF("p1", "p2", "edge")
    val out = graft.queries.DesignImage.pathMetricsCore(pe)
      .collect().map(r => r.getInt(0) -> ((
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2),
        r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
        r.getDouble(5)))).toMap
    assert(out.keySet === Set(0, 1, 2, 3, 5, 6, 7))
    // cpl = (6·1 + 4·1 + 2·2) / 12 finite ordered pairs; eff_glob =
    // (6 + 4 + 2·½) / (7·6)
    val glob = (Some(1.166667), 0.261905)
    Seq(0, 1, 2, 6).foreach(p => assert(out(p) ===
      ((Some(1L), 2L, 0.333333, glob._1, glob._2)), s"node $p: ${out(p)}"))
    Seq(5, 7).foreach(p => assert(out(p) ===
      ((Some(2L), 2L, 0.25, glob._1, glob._2)), s"path end $p: ${out(p)}"))
    assert(out(3) === ((None, 0L, 0.0, glob._1, glob._2)),
      s"no edge: NULL ecc, zero reach/efficiency: ${out(3)}")
  }

  // ---- q194 GSR connectome ------------------------------------------------------

  test("q194: partial r equals explicit residualization; a shared global component is removed") {
    val s = spark
    import s.implicits._
    // three parcels: small independent signals + one big shared drift
    def base(t: Int, k: Int) = (50 + 17 * ((t * k + 3) % 11)).toLong
    val drift = (t: Int) => 4000L * (1 + (t % 5))
    val xs = (0 until 30).map(t => base(t, 2) + drift(t))
    val ys = (0 until 30).map(t => base(t, 7) + drift(t))
    val zs = (0 until 30).map(t => base(t, 13)) // no drift
    val rows = (0 until 30).flatMap(t => Seq(
      (t, 0, 0, 0, xs(t)), (t, 1, 0, 0, ys(t)), (t, 0, 1, 0, zs(t))))
    val out = graft.queries.DesignImage
      .gsrConnectomeCore(plantedSeries(rows))
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // scala-side explicit residualization against g = x + y + z (dense n = 30)
    val g = (0 until 30).map(t => xs(t) + ys(t) + zs(t))
    def resid(v: Seq[Long]): Seq[Double] = {
      val n = 30.0
      val (sv, sg) = (v.sum.toDouble, g.sum.toDouble)
      val svg = v.zip(g).map { case (a, b) => a.toDouble * b }.sum
      val sgg = g.map(x => x.toDouble * x).sum
      val beta = (n * svg - sv * sg) / (n * sgg - sg * sg)
      val alpha = (sv - beta * sg) / n
      v.zip(g).map { case (a, b) => a - alpha - beta * b }
    }
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val n = 30.0
      val (sa, sb) = (a.sum, b.sum)
      val sab = a.zip(b).map { case (x, y) => x * y }.sum
      val (saa, sbb) = (a.map(x => x * x).sum, b.map(x => x * x).sum)
      (n * sab - sa * sb) / (math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb))
    }
    val (rx, ry, rz) = (resid(xs), resid(ys), resid(zs))
    val expect = Map((0, 7) -> pearson(rx, ry), (0, 11) -> pearson(rx, rz),
      (7, 11) -> pearson(ry, rz))
    for ((k, e) <- expect) {
      val got = out(k).get
      assert(math.abs(got - e) < 2e-6, s"edge $k: partial $got vs residual $e")
    }
    // the raw correlation is drift-dominated; the partial one is not
    val rawXY = pearson(xs.map(_.toDouble), ys.map(_.toDouble))
    assert(rawXY > 0.99, s"fixture sanity: shared drift must dominate raw r ($rawXY)")
    assert(math.abs(out((0, 7)).get) < 0.9, "GSR must remove the shared component")
  }

  // ---- q192 edge ICC(2,1) -----------------------------------------------------

  test("q192: subject-separated edge ICC 1, pure rater effect 0, degenerate/incomplete NULL") {
    val s = spark
    import s.implicits._
    val cells = (0 until 4).flatMap { g =>
      (0 until 2).map { h =>
        Seq(
          (g, h, 0, 1, 100L * g),      // scan-invariant, subject-separated → 1
          (g, h, 0, 2, 100L * h),      // pure scan (rater) effect → 0
          (g, h, 1, 2, 55L),           // constant table → 0/0 → NULL
        )
      }
    }.flatten ++ Seq((0, 0, 1, 3, 10L)) // incomplete table → NULL
    val out = graft.queries.DesignImage
      .edgeIccCore(cells.toDF("g", "h", "p1", "p2", "r_fp"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out((0, 1)) === ((8L, Some(1.0))), s"${out((0, 1))}")
    assert(out((0, 2)) === ((8L, Some(0.0))), s"${out((0, 2))}")
    assert(out((1, 2)) === ((8L, None)), "a flat table has undefined reliability")
    assert(out((1, 3)) === ((1L, None)), "an incomplete table must be NULL, not fabricated")
  }

  // ---- q189 small-world index -----------------------------------------------

  test("q189: triangle-plus-tail graph — C, L, random baselines, sigma") {
    val s = spark
    import s.implicits._
    val pe = Seq((0, 1, 1L), (1, 2, 1L), (0, 2, 1L), (2, 3, 1L))
      .toDF("p1", "p2", "edge")
    val r = graft.queries.DesignImage.smallWorldCore(pe).head()
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L) // np, m
    assert(r.getDouble(2) === 2.0)                     // k_mean
    // c: nodes 0,1 → 1.0; node 2 → 1/3 (rounded 0.333333); node 3 deg<2
    assert(r.getDouble(3) === 0.777778, s"c_mean ${r.getDouble(3)}")
    assert(r.getDouble(4) === 0.666667)                // c_rand = 2m/(n(n-1))
    assert(r.getDouble(5) === 1.333333)                // l_obs: 8 hops / 6 pairs
    assert(r.getDouble(7) === 2.0)                     // l_rand = ln4/ln2
    val sigma = BigDecimal(((2333333.0 / 3 / 1e6) / (2.0 * 4 / (4.0 * 3))) /
        (1.333333 / 2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(8) === sigma, s"sigma ${r.getDouble(8)} vs $sigma")
  }

  // ---- q183 connectome fingerprinting --------------------------------------

  test("q183: identification correlates common edges only; scaled twin wins, constant scan is NULL") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      // subject 0, scan A; scan B = 2× (r_id = 1.0) plus an extra edge
      // (1,3) present ONLY in B — must be excluded from the common set
      (0, 0, 0, 1, 100L), (0, 0, 0, 2, 200L), (0, 0, 1, 2, 300L),
      (0, 1, 0, 1, 200L), (0, 1, 0, 2, 400L), (0, 1, 1, 2, 600L), (0, 1, 1, 3, 999L),
      // subject 1: scans identical; permuted vs subject 0 (r = -0.5)
      (1, 0, 0, 1, 300L), (1, 0, 0, 2, 100L), (1, 0, 1, 2, 200L),
      (1, 1, 0, 1, 300L), (1, 1, 0, 2, 100L), (1, 1, 1, 2, 200L),
      // subject 2 has only a CONSTANT scan B → r_id NULL against anyone
      (2, 1, 0, 1, 5L), (2, 1, 0, 2, 5L), (2, 1, 1, 2, 5L),
    ).toDF("g", "h", "p1", "p2", "r_fp")
    val out = graft.queries.DesignImage.fingerprintCore(vecs)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(out.keySet === Set((0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)))
    assert(out((0, 0)) === ((3L, Some(1.0), true, true)), s"${out((0, 0))}")
    assert(out((0, 1)) === ((3L, Some(-0.5), false, false)))
    assert(out((0, 2))._2.isEmpty && !out((0, 2))._3, "constant scan must be NULL r, never best")
    assert(out((1, 1)) === ((3L, Some(1.0), true, true)))
    assert(out((1, 0)) === ((3L, Some(-0.5), false, false)))
  }
}
