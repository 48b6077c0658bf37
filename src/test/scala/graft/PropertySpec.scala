package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.design.DesignOps
import graft.dedup.DedupOps
import graft.stats.StatsOps
import graft.glm.TDist

/** ScalaCheck-generated property tests (SURVEY.md §5.4): linearity of
  * convolution, z-score moments, histogram mass conservation, mode
  * membership, MinHash union-min, t-CDF shape. Deterministic seeds so the
  * suite is reproducible.
  */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
      .collect { case Some(v) => v }
      .take(n).toSeq

  test("property: convolution is linear — conv(a+b) = conv(a)+conv(b)") {
    val s = spark
    import s.implicits._
    val gen = Gen.listOfN(12, Gen.choose(0L, 3L))
    val kernel = DesignOps.hrfKernelInts(1.0, 6)
    for (Seq(a, b) <- samples(Gen.zip(gen, gen).map(t => Seq(t._1, t._2)), 8)) {
      val df = a.zip(b).zipWithIndex
        .map { case ((av, bv), t) => (t.toLong, av, bv, av + bv) }
        .toDF("t", "a", "b", "ab")
      val out = DesignOps.convolve(df, s, kernel, Seq("a", "b", "ab"), 12)
        .collect()
      out.foreach { r =>
        val lhs = r.getAs[Double]("conv_ab")
        val rhs = r.getAs[Double]("conv_a") + r.getAs[Double]("conv_b")
        assert(math.abs(lhs - rhs) < 1e-9, s"linearity broken at $r")
      }
    }
  }

  test("property: pointer-doubling CC labels equal a union-find oracle") {
    val s = spark
    import s.implicits._
    // random graphs across the density spectrum (sparse chains → near-
    // cliques): labels must equal the component minima a driver-side
    // union-find computes, and rounds must stay within the log budget
    val genGraph = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n.toLong - 1), Gen.choose(0L, n.toLong - 1)))
    } yield edges.filter(e => e._1 != e._2)
    for ((edges, gi) <- samples(genGraph, 6).zipWithIndex if edges.nonEmpty) {
      // union-find oracle
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
      def find(v: Long): Long = {
        var r = v
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = verts.map(v => v -> {
        // component min = min over members sharing the root
        val root = find(v)
        verts.filter(w => find(w) == root).min
      }).toMap
      val (labels, rounds) = DedupOps.ccLabels(edges.toDF("doc_a", "doc_b"))
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"graph $gi: $edges")
      val budget = 64 - java.lang.Long.numberOfLeadingZeros(verts.size.toLong) + 16
      assert(rounds <= budget, s"graph $gi took $rounds rounds")
      // the alternating large-star/small-star path lands the same labels
      val (alt, altRounds) = DedupOps.ccLabelsAlternating(edges.toDF("doc_a", "doc_b"))
      val gotAlt = alt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotAlt === expected, s"alternating, graph $gi: $edges")
      assert(altRounds <= budget * 2, s"alternating graph $gi took $altRounds rounds")
    }
  }

  test("property: zscore has mean ~0 and population sd ~1 per group") {
    val s = spark
    import s.implicits._
    val gen = Gen.listOfN(30, Gen.choose(-100.0, 100.0))
    for ((vs, i) <- samples(gen, 6).zipWithIndex if vs.distinct.size > 1) {
      val df = vs.map(v => (s"g$i", math.rint(v * 100) / 100)).toDF("g", "v")
      val z = StatsOps.zscore(df, "v", Seq("g")).select("z").as[Double].collect()
      val mean = z.sum / z.length
      val sd = math.sqrt(z.map(x => x * x).sum / z.length - mean * mean)
      assert(math.abs(mean) < 1e-8)
      assert(math.abs(sd - 1.0) < 1e-8)
    }
  }

  test("property: histogram bin counts sum to the row count") {
    val s = spark
    import s.implicits._
    val gen = Gen.listOfN(40, Gen.choose(0L, 57L))
    for (vs <- samples(gen, 6)) {
      val df = vs.toDF("c")
      val total = StatsOps.histogram(df, "c", 5L)
        .agg(sum("n")).head().getLong(0)
      assert(total === vs.length.toLong)
    }
  }

  test("property: deterministic mode is a member and a maximizer") {
    val s = spark
    import s.implicits._
    val gen = Gen.listOfN(25, Gen.choose(1, 6))
    for (vs <- samples(gen, 8)) {
      val df = vs.map(v => ("g", v)).toDF("g", "v")
      val m = StatsOps.modeDeterministic(df, Seq("g"), "v").head().getInt(1)
      val counts = vs.groupBy(identity).view.mapValues(_.size).toMap
      assert(counts.contains(m))
      assert(counts(m) === counts.values.max)
      // smallest among maximizers (hmode tie rule)
      assert(m === counts.filter(_._2 == counts.values.max).keys.min)
    }
  }

  test("property: minhash signature of a doc union is the elementwise min") {
    val s = spark
    import s.implicits._
    val word = Gen.choose(1, 40).map(i => s"w$i")
    val gen = Gen.listOfN(12, word)
    for (Seq(a, b) <- samples(Gen.zip(gen, gen).map(t => Seq(t._1, t._2)), 5)) {
      val docs = Seq(
        (1L, a.mkString(" ")), (2L, b.mkString(" ")),
        (3L, (a ++ b).mkString(" ")), // shingle set ⊇ A-shingles ∪ B-shingles
      ).toDF("doc_id", "text")
      val sig = DedupOps
        .minhashSignatures(graft.text.TextOps.shingleHashes(docs, 3), 8)
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => r.getAs[Long]("j") -> r.getAs[Long]("mh")).toMap)
        .toMap
      // union contains all of A's and B's shingles plus boundary shingles →
      // its min can only be ≤ both
      for (j <- 0L until 8L) {
        assert(sig(3L)(j) <= math.min(sig(1L)(j), sig(2L)(j)))
      }
    }
  }

  test("property: two-sided p decreases as |t| grows; p(0) = 1") {
    for (df <- Seq(1.0, 5.0, 30.0, 200.0)) {
      assert(TDist.pTwoSided(0.0, df) === 1.0)
      val ts = Seq(0.0, 0.5, 1.0, 2.0, 4.0, 8.0)
      val ps = ts.map(t => TDist.pTwoSided(t, df))
      ps.zip(ps.tail).foreach { case (hi, lo) => assert(lo < hi) }
      // df=1 is Cauchy: p(|t|=8) ≈ 0.079 — heavy tails are correct
      assert(ps.last > 0.0 && ps.last < 0.1)
    }
  }

  test("property: series_slots + dot_slots equal a BigInt reference, any partitioning") {
    val s = spark
    import s.implicits._
    import graft.functions.SeriesSlots.{dot_slots, series_slots}
    import org.apache.spark.sql.functions.typedlit
    val n = 12
    val rowsGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(-2L, n + 1L), Gen.choose(-99999L, 99999L))) // incl. out-of-range t
    val wGen = Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
    for ((rows, w) <- samples(Gen.zip(rowsGen, wGen), 6)) {
      val ref = {
        val acc = Array.fill(n)(BigInt(0))
        rows.foreach { case (t, y) => if (t >= 0 && t < n) acc(t.toInt) += y }
        acc.zip(w).map { case (a, b) => a * b }.sum
      }
      val df = rows.map { case (t, y) => ("g", t, y) }.toDF("g", "t", "y").repartition(5)
      val out = df.groupBy("g")
        .agg(series_slots(col("t"), col("y"), n).as("ys"))
        .select(dot_slots(col("ys"), typedlit(w)).as("d"))
        .head().getLong(0)
      assert(BigInt(out) === ref)
    }
  }

  test("property: native segment/chunk/dedup kernels equal the HOF spec forms on random docs") {
    import graft.text.CurationOps
    val s = spark
    import s.implicits._
    // small vocab forces intra-doc repeats; occasional empty tokens via
    // "" entries exercise the double-space framing path
    val word = Gen.frequency((8, Gen.choose(1, 6).map(i => s"w$i")), (1, Gen.const("")))
    val doc = Gen.choose(1, 24).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docsGen = Gen.listOfN(12, doc)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq
    for (texts <- samples(docsGen, 6)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      for (st <- Seq(1, 2, 5)) {
        assert(rows(CurationOps.segmentRelation(docs, st))
          == rows(CurationOps.segmentRelationSpec(docs, st)), s"segments st=$st: $texts")
        assert(rows(CurationOps.intraDocDedup(docs, st))
          == rows(CurationOps.intraDocDedupSpec(docs, st)), s"dedup st=$st: $texts")
      }
      for ((w, st) <- Seq((3, 2), (4, 4), (6, 1)))
        assert(rows(CurationOps.chunk(docs, w, st))
          == rows(CurationOps.chunkSpec(docs, w, st)), s"chunk w=$w st=$st: $texts")
    }
  }

  test("property: trilinear resample reproduces random linear fields under random dyadic affines") {
    import graft.image.ImageOps
    val s = spark
    import s.implicits._
    val gen = for {
      den <- Gen.oneOf(2L, 4L)
      a <- Gen.choose(1L, 3L) // diagonal scale numerator
      bn <- Gen.choose(0L, den - 1) // sub-voxel shift numerator
      cx <- Gen.choose(1, 5); cy <- Gen.choose(1, 5); cz <- Gen.choose(1, 5)
    } yield (den, a, bn, cx, cy, cz)
    for ((den, a, bn, cx, cy, cz) <- samples(gen, 8)) {
      // v = cx·x + cy·y + cz·z scaled to keep 2-decimal exactness
      val g = (for { x <- 0 to 3; y <- 0 to 3; z <- 0 to 3 }
        yield (x, y, z, 0, BigDecimal(cx * x + cy * y + cz * z)))
        .toDF("x", "y", "z", "label", "value_dec")
        .withColumn("value_dec", col("value_dec").cast("decimal(18,2)"))
      val out = ImageOps.resampleAffineTrilinear(s, g,
          Array(Array(a, 0L, 0L), Array(0L, a, 0L), Array(0L, 0L, a)),
          Array(bn, bn, bn), den, (4, 4, 4))
        .collect()
      // interior-only: every emitted cell must equal the field AT the
      // exact rational source point (trilinear is exact on linear fields)
      out.foreach { r =>
        val (x, y, z, v) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))
        def src(o: Int) = (a * o + bn).toDouble / den
        val expect = cx * src(x) + cy * src(y) + cz * src(z)
        assert(math.abs(v - expect) < 1e-9,
          s"den=$den a=$a b=$bn cell=($x,$y,$z): $v != $expect")
      }
      assert(out.nonEmpty, s"den=$den a=$a b=$bn produced no interior cells")
    }
  }

  test("property: simhash / shingle / minhash-band kernels equal spec forms on random docs") {
    import graft.functions.TextExprs
    import graft.text.TextOps
    val s = spark
    import s.implicits._
    // empty tokens AND leading/trailing spaces — the framing class the
    // curation sweep proved productive
    val word = Gen.frequency((8, Gen.choose(1, 7).map(i => s"w$i")), (1, Gen.const("")))
    val doc = Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docsGen = Gen.listOfN(10, doc)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    for (texts <- samples(docsGen, 5)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      assert(rows(graft.dedup.DedupOps.simhash(docs))
        == rows(graft.dedup.DedupOps.simhashViaExplode(docs)), s"simhash: $texts")
      for (k <- Seq(1, 2, 3)) {
        val native = docs.select(col("doc_id"),
          explode(TextExprs.shingle_hash_set(col("text"), k)).as("h"))
        val hof = docs
          .withColumn("__th", expr(TextOps.tokenHashArrayExpr))
          .select(col("doc_id"), explode(expr(TextOps.shingleHashExpr(k))).as("h"))
          .distinct()
        assert(rows(native) == rows(hof), s"shingle_hash_set k=$k: $texts")
      }
      assert(rows(docs.select(col("doc_id"),
          explode(TextExprs.term_counts(col("text"))).as("tc"))
          .select(col("doc_id"), col("tc.term"), col("tc.c")))
        == rows(docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).cast("long").as("c"))),
        s"term_counts: $texts")
      val specBands = graft.dedup.DedupOps
        .lshBands(graft.dedup.DedupOps.minhashSignatures(
          TextOps.shingleHashes(docs, 2), 8), 2)
        .select(col("doc_id"), col("band"), col("bkey"))
      val nativeBands = docs
        .select(col("doc_id"), TextExprs.shingle_hash_set(col("text"), 2).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          posexplode(TextExprs.lsh_band_keys(TextExprs.min_hash_sig(col("sh"), 8), 2)))
        .select(col("doc_id"), col("pos").cast("long").as("band"), col("col").as("bkey"))
      assert(rows(nativeBands) == rows(specBands), s"minhash bands: $texts")
    }
  }

  test("property: dsir bigram buckets (native) equal the HOF spec form on random docs") {
    import graft.text.{CurationOps, TextOps}
    import graft.functions.TextExprs
    val s = spark
    import s.implicits._
    val word = Gen.frequency((8, Gen.choose(1, 6).map(i => s"w$i")), (1, Gen.const("")))
    val doc = Gen.choose(1, 24).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docsGen = Gen.listOfN(12, doc)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq
    for (texts <- samples(docsGen, 6)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      for (b <- Seq(16, 512)) {
        val native = docs.select(col("doc_id"),
          transform(TextExprs.shingle_hashes(col("text"), 2), h => h % b).as("f"))
        val hof = docs
          .selectExpr("doc_id", s"${TextOps.tokenHashArrayExpr} AS __th")
          .selectExpr("doc_id", s"${CurationOps.dsirBucketsExpr(b)} AS f")
        assert(rows(native) == rows(hof), s"dsir buckets b=$b: $texts")
      }
      // dsirWeights end-to-end stays finite and partition-invariant on
      // random framing-heavy docs (empty tokens, 1-token docs)
      val lang = docs.withColumn("lang",
        when(col("doc_id") % 2 === 0, "en").otherwise("xx"))
      val a = CurationOps.dsirWeights(lang, col("lang") === "en", 64)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val b2 = CurationOps.dsirWeights(lang.repartition(5), col("lang") === "en", 64)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(a == b2, s"dsirWeights partition-variance: $texts")
    }
  }

  test("property: driver H-index coreness equals Batagelj-Zaversnik peeling on random multigraphs") {
    val s = spark
    import s.implicits._
    // random pair lists over up to 14 ids: repeated draws and a re-appended
    // prefix make duplicate pairs (a second edge entry each, as the
    // oracle's UNION ALL counts them), edge = 0 draws bring nodes that
    // touch no edge (isolates: degree 0, coreness 0)
    val genPairs = for {
      n <- Gen.choose(2, 14)
      m <- Gen.choose(1, 40)
      pairs <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1),
        Gen.frequency(4 -> 1L, 1 -> 0L)))
      dup <- Gen.choose(0, 6)
    } yield {
      val noLoops = pairs.filter(p => p._1 != p._2)
      noLoops ++ noLoops.take(dup)
    }
    for ((pairs, gi) <- samples(genPairs, 12).zipWithIndex if pairs.nonEmpty) {
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val adj = nodes.map(v => v -> pairs.collect {
        case (a, b, 1L) if a == v => b
        case (a, b, 1L) if b == v => a
      }).toMap
      // Batagelj-Zaversnik: repeatedly remove a minimum-degree node; its
      // coreness is the largest removal degree seen so far
      val deg = scala.collection.mutable.Map(nodes.map(v => v -> adj(v).size): _*)
      val alive = scala.collection.mutable.Set(nodes: _*)
      val expected = scala.collection.mutable.Map.empty[Int, (Long, Long)]
      var k = 0
      while (alive.nonEmpty) {
        val v = alive.minBy(u => (deg(u), u))
        k = math.max(k, deg(v))
        expected(v) = (adj(v).size.toLong, k.toLong)
        alive -= v
        adj(v).foreach(u => if (alive(u)) deg(u) -= 1)
      }
      val got = graft.queries.DesignImage
        .corenessCore(pairs.toDF("p1", "p2", "edge"), rounds = 64)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === expected.toMap, s"graph $gi: $pairs")
    }
  }

  test("property: weighted Louvain labels every node, and level 2 raises Q exactly when it merges") {
    val s = spark
    import s.implicits._
    // random weighted pair lists over up to 14 ids: repeated draws and a
    // re-appended prefix make duplicate pairs; w = 0 draws and a trailing
    // pair of two fresh ids at w = 0 bring nodes whose only pairs are
    // non-edges. The first non-loop draw is forced positive, so W > 0
    // whenever there is one.
    val genPairs = for {
      n <- Gen.choose(2, 14)
      m <- Gen.choose(1, 40)
      pairs <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1),
        Gen.frequency(4 -> Gen.choose(1L, 1000L), 1 -> Gen.const(0L))))
      dup <- Gen.choose(0, 6)
    } yield {
      val noLoops = pairs.filter(p => p._1 != p._2)
        .zipWithIndex.map { case ((a, b, w), i) => (a, b, if (i == 0) w + 1 else w) }
      noLoops ++ noLoops.take(dup) :+ ((n, n + 1, 0L))
    }
    val merged = for ((pairs, gi) <- samples(genPairs, 12).zipWithIndex) yield {
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      val edges = pairs.filter(_._3 > 0)
      // Q's exact numerator Σ_m (4W·w_mm − s_m²) — the denominator 4W²
      // is partition-free, so numerators order the Q values exactly
      def qNum(mod: Map[Int, Int]): BigInt = {
        val w = BigInt(edges.map(_._3).sum)
        val inner = edges.collect { case (a, b, x) if mod(a) == mod(b) => mod(a) -> x }
          .groupMapReduce(_._1)(_._2)(_ + _)
        val str = edges.flatMap { case (a, b, x) => Seq(mod(a) -> x, mod(b) -> x) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        str.iterator.map { case (c, sc) =>
          w * 4 * BigInt(inner.getOrElse(c, 0L)) - BigInt(sc).pow(2)
        }.sum
      }
      val df = pairs.toDF("p1", "p2", "w")
      def mods(out: org.apache.spark.sql.DataFrame): Map[Int, Int] =
        out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val l1 = mods(graft.queries.DesignImage.louvainModules(df))
      val l2 = mods(graft.queries.DesignImage.louvainTwoLevelModules(df))
      assert(l1.keySet === nodes && l2.keySet === nodes,
        s"graph $gi: every node needs a module: $pairs")
      if (l2 === l1) assert(qNum(l2) === qNum(l1), s"graph $gi: $pairs")
      else assert(qNum(l2) > qNum(l1), s"graph $gi: a merge must raise Q: $pairs")
      l2 != l1
    }
    assert(merged.distinct.size === 2, s"the sample must hold both cases: $merged")
  }

  test("property: driver shortest paths, sigma and Brandes delta equal a BigInt Floyd-Warshall reference") {
    val s = spark
    import s.implicits._
    // random weighted pair lists over up to 12 ids, lengths 1..3 so ties
    // (sigma > 1) are common; a re-appended prefix with redrawn weights
    // makes duplicate pairs (same or different length), w = 0 draws and a
    // trailing pair of two fresh ids at w = 0 bring nodes with no edge
    val genGraph = for {
      n <- Gen.choose(2, 12)
      m <- Gen.choose(1, 30)
      pairs <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1),
        Gen.frequency(5 -> Gen.choose(1L, 3L), 1 -> Gen.const(0L))))
      dup <- Gen.choose(0, 8)
      redrawn <- Gen.listOfN(dup, Gen.choose(1L, 3L))
      k <- Gen.choose(1, n)
    } yield {
      val noLoops = pairs.filter(p => p._1 != p._2)
      val dups = noLoops.zip(redrawn).map { case ((a, b, _), w) => (a, b, w) }
      (noLoops ++ dups :+ ((n, n + 1, 0L)), k)
    }
    val fixed = BigInt(1000000000000L)
    val multi = for (((pairs, k), gi) <- samples(genGraph, 12).zipWithIndex) yield {
      val g = graft.queries.GraphLoops.pin(pairs.toDF("p1", "p2", "w"), "PropertySpec")
      val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      assert(g.ids.toSeq === ids, s"graph $gi: nodes in id order")
      val n = ids.size
      val ix = ids.zipWithIndex.toMap
      val entries = pairs.filter(_._3 > 0).flatMap { case (a, b, w) =>
        Seq((ix(a), ix(b), BigInt(w)), (ix(b), ix(a), BigInt(w))) }
      // Floyd-Warshall over BigInt, None = unreachable
      val d = Array.tabulate(n, n)((i, j) => if (i == j) Option(BigInt(0)) else None)
      for ((a, b, w) <- entries if d(a)(b).forall(w < _)) d(a)(b) = Some(w)
      for (c <- 0 until n; a <- 0 until n; b <- 0 until n)
        for (x <- d(a)(c); y <- d(c)(b) if d(a)(b).forall(x + y < _))
          d(a)(b) = Some(x + y)
      val bc = Array.fill(n)(BigInt(0))
      for (src <- 0 until n) {
        val ds = d(src)
        val reached = (0 until n).filter(ds(_).isDefined).sortBy(ds(_).get)
        def tight(u: Int, v: Int, w: BigInt) =
          ds(u).isDefined && ds(v).isDefined && ds(u).get + w == ds(v).get
        // sigma by DP in distance order, one term per entry
        val sigma = Array.fill(n)(BigInt(0))
        sigma(src) = 1
        for (v <- reached if v != src)
          sigma(v) = entries.collect { case (u, `v`, w) if tight(u, v, w) => sigma(u) }.sum
        val delta = Array.fill(n)(BigInt(0))
        for (v <- reached.reverse)
          delta(v) = entries.collect { case (`v`, w, l) if tight(v, w, l) =>
            sigma(v) * (fixed + delta(w)) / sigma(w) }.sum
        val p = graft.queries.GraphLoops.shortestPaths(g, src)
        assert(p.dist.toSeq === ds.map(_.fold(Long.MaxValue)(_.toLong)).toSeq,
          s"graph $gi source $src distances: $pairs")
        assert(p.order.toSet === reached.toSet, s"graph $gi source $src reach")
        assert(p.sigma.toSeq.map(BigInt(_)) === sigma.toSeq,
          s"graph $gi source $src sigma: $pairs")
        assert(graft.queries.GraphLoops.dependencies(g, p).toSeq.map(BigInt(_)) ===
          delta.toSeq, s"graph $gi source $src delta: $pairs")
        if (src < k) for (v <- 0 until n if v != src) bc(v) += delta(v)
      }
      assert(graft.queries.GraphLoops.betweenness(g, k, "PropertySpec").toSeq
        .map(BigInt(_)) === bc.toSeq, s"graph $gi: $k-source betweenness")
      k < n && entries.size > entries.distinct.size
    }
    assert(multi.contains(true), "the sample must hold a duplicate pair and k < n")
  }

  test("property: keyed pin kernels equal per-key pins; components equal a BFS") {
    val s = spark
    import s.implicits._
    // random keyed pair lists: up to 4 (s, k) keys over up to 9 ids each,
    // edge = 0 draws, a re-appended prefix (duplicate pairs) and a trailing
    // edge = 0 pair of two fresh ids per key (non-edge-only nodes), plus
    // one key whose rows are all non-edges. Keys share ids, so merging
    // keys changes graphs.
    val genKeyed = for {
      nk <- Gen.choose(1, 4)
      graphs <- Gen.listOfN(nk, for {
        n <- Gen.choose(2, 9)
        m <- Gen.choose(0, 20)
        pairs <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1),
          Gen.frequency(4 -> Gen.const(1), 1 -> Gen.const(0))))
        dup <- Gen.choose(0, 5)
      } yield {
        val noLoops = pairs.filter(p => p._1 != p._2)
        noLoops ++ noLoops.take(dup) :+ ((n, n + 1, 0))
      })
    } yield (graphs :+ Seq((0, 1, 0), (1, 2, 0))).zipWithIndex.flatMap {
      case (ps, i) => ps.map { case (a, b, e) => (if (i % 2 == 0) "hub" else "leaf", i.toLong, a, b, e) }
    }
    val site = "PropertySpec.keyed"
    val depths = for ((rows, gi) <- samples(genKeyed, 12).zipWithIndex) yield {
      val df = rows.toDF("s", "k", "p1", "p2", "edge")
      val keyed = graft.queries.GraphLoops.pinKeyed(df, Seq("s", "k"), site)
      val keys = rows.map(r => (r._1, r._2)).distinct
      assert(keyed.graphs.map(_._1.toSeq) === keys.map(k => Seq(k._1, k._2)),
        s"sample $gi: one graph per key, first-seen order")
      def byKey(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(_.toSeq).groupBy(r => (r(0), r(1)))
          .view.mapValues(_.map(_.drop(2)).toSet).toMap
      val lpaOut = byKey(keyed.labels("lab", site)(graft.queries.GraphLoops.lpa(_, 0, site)._1))
      val compOut = byKey(keyed.labels("comp", site)(graft.queries.GraphLoops.components(_, site)))
      val distOut = byKey(keyed.distances(site))
      keys.map { case (st, k) =>
        val own = rows.filter(r => r._1 == st && r._2 == k)
        val g = graft.queries.GraphLoops.pin(
          own.map(r => (r._3, r._4, r._5)).toDF("p1", "p2", "edge"), site)
        val kg = keyed.graphs.find(_._1.toSeq == Seq(st, k)).get._2
        assert(kg.ids.toSeq === g.ids.toSeq && kg.adj.map(_.toSeq).toSeq ===
          g.adj.map(_.toSeq).toSeq, s"sample $gi key ($st, $k): graph")
        def labels(lab: Array[Int]) = g.ids.indices.map(i => Seq(g.ids(i), g.ids(lab(i)))).toSet
        val (lab, rounds, _) = graft.queries.GraphLoops.lpa(g, 0, site)
        assert(lpaOut((st, k)) === labels(lab), s"sample $gi key ($st, $k): lpa")
        val comp = graft.queries.GraphLoops.components(g, site)
        assert(compOut((st, k)) === labels(comp), s"sample $gi key ($st, $k): components")
        assert(distOut.getOrElse((st, k), Set.empty) ===
          graft.queries.GraphLoops.distances(g, site).collect().map(_.toSeq).toSet,
          s"sample $gi key ($st, $k): distances")
        // BFS reference: every endpoint, edge = 1 pairs as adjacency
        val nodes = own.flatMap(r => Seq(r._3, r._4)).distinct
        val nbr = own.filter(_._5 == 1).flatMap(r => Seq(r._3 -> r._4, r._4 -> r._3))
          .groupMap(_._1)(_._2)
        val bfs = nodes.map { v =>
          var (seen, frontier) = (Set(v), Set(v))
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(nbr.getOrElse(_, Nil)) -- seen
            seen ++= frontier
          }
          Seq(v, seen.min)
        }.toSet
        assert(compOut((st, k)) === bfs, s"sample $gi key ($st, $k): BFS components $own")
        rounds
      }.distinct.size
    }
    assert(depths.exists(_ > 1), s"the sample must mix LPA convergence depths: $depths")
    val err = intercept[IllegalArgumentException](graft.queries.GraphLoops.pinKeyed(
      Seq(("a", 1L, 0, 1, 1), ("b", 1L, 0, 1, 1)).toDF("s", "k", "p1", "p2", "edge"),
      Seq("s", "k"), "PropertySpec.overCap", cap = 1))
    assert(err.getMessage.contains("PropertySpec.overCap"), err.getMessage)
  }

  test("property: driver Lloyd assigns the windows the DataFrame Lloyd assigns") {
    val s = spark
    import s.implicits._
    // The DataFrame Lloyd the driver kernel replaced (k = 2 states, 2
    // rounds), verbatim: the reference.
    val (dfcK, dfcLloydRounds) = (2, 2)
    def dfcAssign(wr: org.apache.spark.sql.DataFrame,
        cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      wr.join(cent, Seq("p1", "p2"))
        .selectExpr("ws", "state", "(v - c) * (v - c) AS d2")
        .groupBy("ws", "state").agg(sum("d2").as("dist"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("ws")
            .orderBy(col("dist").asc, col("state").asc)))
        .filter(col("rn") === 1).select("ws", "state")
    def dfcStatesAssign(wr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val wsIdx = wr.select("ws").distinct()
        .withColumn("st", row_number().over(
          graft.util.Windows.boundedGlobalWindow(
            "|W|-bounded: one row per dFC window", col("ws"))) - 1)
      var cent = wr.join(wsIdx.filter(col("st") < dfcK), Seq("ws"))
        .selectExpr("st AS state", "p1", "p2", "v AS c")
        .localCheckpoint()
      for (_ <- 0 until dfcLloydRounds) {
        val upd = wr.join(dfcAssign(wr, cent), Seq("ws"))
          .groupBy("state", "p1", "p2")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .selectExpr("state", "p1", "p2",
            "(2 * s + n - pmod(2 * s + n, 2 * n)) div (2 * n) AS c_new")
        cent = cent
          .join(upd, Seq("state", "p1", "p2"), "left")
          .selectExpr("state", "p1", "p2",
            "CAST(COALESCE(c_new, c) AS BIGINT) AS c")
          .localCheckpoint()
      }
      dfcAssign(wr, cent)
    }
    // random window vectors: 1–6 windows in shuffled ws order over up to
    // 3 dims of small signed values (negative sums, distance ties), a
    // window sometimes missing a dim (distances over the shared dims);
    // planted: |W| = 1 < k, an equidistant window, an emptied state (two
    // equal seeds: state 1 never wins a tie)
    val genVecs = for {
      nw <- Gen.choose(1, 6)
      dims <- Gen.choose(1, 3)
      wins <- Gen.listOfN(nw, Gen.listOfN(dims, Gen.choose(-4L, 4L)))
      drop <- Gen.choose(0, 2 * nw)
      order <- Gen.pick(nw, 0 until 2 * nw)
    } yield wins.zip(order).zipWithIndex.flatMap { case ((vec, ws), w) =>
      vec.zipWithIndex.collect { case (v, d) if w * dims + d != drop => (ws, 0, d + 1, v) }
    }
    val planted = Seq(
      Seq((3, 0, 1, -5L)),
      Seq((0, 0, 1, 0L), (1, 0, 1, 2L), (2, 0, 1, 1L), (3, 0, 1, -3L)),
      Seq((0, 0, 1, 1L), (1, 0, 1, 1L), (2, 0, 1, -2L), (3, 0, 1, 5L)))
    for ((vecs, gi) <- (planted ++ samples(genVecs, 12)).zipWithIndex) {
      val wr = vecs.toDF("ws", "p1", "p2", "v")
      def got(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(got(graft.queries.DesignImage.dfcStatesAssign(wr)) ===
        got(dfcStatesAssign(wr)), s"sample $gi: $vecs")
    }
  }
}
