package graft.glm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Linear-model operators — the reference's analytical core (SURVEY.md §2.6:
  * mass-univariate OLS `regress()`, ssm_loop.py:90-97).
  *
  * Three formulations:
  *  - `simpleOLS`: per-group y ~ 1 + x from exact DECIMAL moments; fully
  *    SQL-expressible, oracle-checked.
  *  - `massGLM`/`massBetas`: per-group multi-regressor OLS against a
  *    SHARED design matrix X — the ssm_loop shape (one X, millions of
  *    voxels). The k×n pinv = (XᵀX)⁻¹Xᵀ is computed on the driver
  *    (LinAlg) and scaled to integers (×1e9, round); the (group, t)
  *    series — |groups|·n rows — is folded once (per-partition sums
  *    merged on the driver) and the betas are exact DECIMAL sums there.
  *    q33's oracle transcribes the same sums as a literal-table join.
  *  - `massGLMPacked`: the PRODUCTION shuffle shape (q48/q60) — each
  *    series packs into an n-slot exact-int64 array by one aggregation;
  *    all per-regressor sums become exact dot-product projections.
  *    Bit-identical to `massGLM` (spec-pinned), 25× at the 500k-group
  *    probe regime. See its scaladoc.
  *
  * Scale notes (100 TB): every form is a single scan + one hash aggregate
  * keyed by group; the broadcast/literal side is k×n ≤ a few thousand
  * weights. The integer scaling makes all sums exact, so results are
  * bit-identical across engines AND across Spark partition orders.
  */
object GlmOps {

  val Scale = 1000000000L // pinv fixed-point scale (1e9)

  /** Per-group simple linear regression y ~ 1 + x with exact-decimal moments.
    * Output: group cols + n, beta0, beta1, t1 (slope t-stat, df = n-2).
    * Formula order mirrors the oracle SQL exactly — all doubles derive from
    * the same exact integers/decimals.
    */
  def simpleOLS(df: DataFrame, groupCols: Seq[String], yCol: String, xCol: String): DataFrame = {
    val dec = "decimal(18,2)"
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast("double").as("__n"),
        sum(x).cast("double").as("__sx"),
        sum(y).cast("double").as("__sy"),
        sum(x * x).cast("double").as("__sxx"),
        sum(y * y).cast("double").as("__syy"),
        sum(x * y).cast("double").as("__sxy"),
      )
      // nullif: constant-x groups yield NULL coefficients, not ANSI errors
      .withColumn("beta1",
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          expr("nullif(__n * __sxx - __sx * __sx, 0.0D)"))
      .withColumn("beta0", (col("__sy") - col("beta1") * col("__sx")) / col("__n"))
      .withColumn("__sse",
        col("__syy") - col("beta0") * col("__sy") - col("beta1") * col("__sxy"))
      .withColumn("__se1",
        sqrt((col("__sse") / (col("__n") - 2)) * col("__n") /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx"))))
      // guard: perfectly-fit groups have se=0 (ANSI div-by-zero) → NULL t
      .withColumn("t1", when(col("__se1") > 0, col("beta1") / col("__se1")))
      .select(groupCols.map(col) ++ Seq(
        col("__n").cast("long").as("n"), col("beta0"), col("beta1"), col("t1")): _*)
  }

  /** simpleOLS plus two-sided p-value for the slope (Student-t, df = n-2) —
    * the M3 operator; p computed by the TDist UDF (no SQL-oracle form). */
  def simpleOLSWithP(df: DataFrame, groupCols: Seq[String], yCol: String, xCol: String): DataFrame =
    simpleOLS(df, groupCols, yCol, xCol)
      .withColumn("p1",
        graft.functions.TCdf.t_pvalue(col("t1"), col("n").cast("double") - 2))

  /** Per-row residuals of the per-group fit: y − (β0 + β1·x). The coefficient
    * relation has one row PER GROUP — O(data), not a dimension — so no
    * broadcast hint: AQE picks broadcast only when the group count is
    * actually small, and falls back to a key-aligned shuffle join otherwise.
    */
  def residuals(df: DataFrame, groupCols: Seq[String], yCol: String, xCol: String): DataFrame = {
    val coef = simpleOLS(df, groupCols, yCol, xCol)
      .select(groupCols.map(col) :+ col("beta0") :+ col("beta1"): _*)
    df.join(coef, groupCols)
      .withColumn("resid", col(yCol) - (col("beta0") + col("beta1") * col(xCol)))
  }

  /** Mass-univariate OLS betas: `series` is the long relation of
    * observations (group, t, y_dec), y_dec an exact DECIMAL of scale 2,
    * several rows per (group, t) allowed; X is the shared n×k design.
    * β(g, j) = (Σ_t w(j,t)·y(g,t)) / Scale, y(g, t) the sum of the group's
    * y_dec at t and w = round(pinv(j)(t) · Scale). Rows with t outside
    * [0, n) are ignored and missing t are zero. y(g, t) is one
    * [[graft.util.Loops.fold]] — per-partition sums merged on the driver,
    * at most |groups|·n rows (over `cap` it fails naming the site) — and
    * [[betaSums]] sums the betas exactly; only the scaling to double is a
    * Catalyst projection. Groups come in ascending order. */
  def massBetas(series: DataFrame, x: LinAlg.Mat, groupCol: String,
      cap: Int = graft.util.Loops.PinMaxRows): DataFrame = {
    val site = "GlmOps.massBetas"
    val rows = graft.util.Loops.foldedRows(
      series, Seq(groupCol, "t"), Seq("y_dec"), site, cap)
    val p = LinAlg.pinv(x)
    val sums = betaSums(
      rows.iterator.filterNot(_.isNullAt(1)).map(r =>
        (r.get(0), r.getAs[Number](1).longValue, r.getAs[java.math.BigDecimal](2))).toSeq,
      p.map(_.map(v => math.rint(v * Scale).toLong)), site)
    series.sparkSession.createDataFrame(
      java.util.Arrays.asList(sums.map { case (g, j, v) => Row(g, j.toLong, v) }: _*),
      StructType(Seq(series.schema(groupCol),
        StructField("j", LongType, nullable = false),
        StructField("__s", DecimalType(38, 2)))))
      .select(col(groupCol), col("j"),
        (col("__s").cast("double") / Scale.toDouble).as("beta"))
  }

  /** The exact sums Σ_t w(j,t)·y(g,t) of [[massBetas]], per group g in
    * first-seen order and j in 0 until k, for a k×n weight matrix `w`.
    * Rows with t outside [0, n) are ignored, a NULL y adds no term, and a
    * sum with no term is NULL. A term or sum beyond DECIMAL(38,2) throws
    * naming `site`, as Spark's ANSI decimal sum does. */
  def betaSums(series: Iterable[(Any, Long, java.math.BigDecimal)],
      w: Array[Array[Long]], site: String): Seq[(Any, Int, java.math.BigDecimal)] = {
    val n = w.headOption.fold(0)(_.length)
    def dec38(v: java.math.BigDecimal): java.math.BigDecimal = {
      val d = v.setScale(2)
      if (d.unscaledValue.abs.compareTo(Decimal38) >= 0) throw new ArithmeticException(
        s"$site: beta sum $d overflows DECIMAL(38,2)")
      d
    }
    val acc = collection.mutable.LinkedHashMap.empty[Any, Array[java.math.BigDecimal]]
    for ((g, t, y) <- series if t >= 0 && t < n) {
      val s = acc.getOrElseUpdate(g, new Array(w.length))
      if (y != null) for (j <- w.indices) {
        val term = dec38(java.math.BigDecimal.valueOf(w(j)(t.toInt)).multiply(y))
        s(j) = if (s(j) == null) term else dec38(s(j).add(term))
      }
    }
    for ((g, s) <- acc.toSeq; j <- s.indices) yield (g, j, s(j))
  }

  private val Decimal38 = java.math.BigInteger.TEN.pow(38)

  /** The combined design-weight relation: rows (t, j, w, wx) with
    * w = round(pinv(j)(t) · Scale) and wx = round(X(t)(j) · Scale). One
    * broadcast table serves both the beta sum (w) and the Xᵀy sum (wx).
    */
  def designTable(spark: SparkSession, x: LinAlg.Mat): DataFrame = {
    val p = LinAlg.pinv(x) // k × n
    val rows = for {
      t <- x.indices
      j <- x(t).indices
    } yield (t.toLong, j.toLong,
      math.rint(p(j)(t) * Scale).toLong, math.rint(x(t)(j) * Scale).toLong)
    import spark.implicits._
    rows.toDF("t", "j", "w", "wx")
  }

  /** Full mass-GLM bundle (M1/M2/M3 outputs, ssm_loop.py:91-97): betas,
    * per-group sigma, and per-regressor t and two-sided p.
    * Not oracle-checked in the flagship form (p needs the t CDF);
    * golden-tested vs closed form, hash-checked via the fixed-design q60.
    *
    * SSE is computed ALGEBRAICALLY: for the OLS fit of the zero-filled dense
    * series, SSE = Σy² − βᵀ(Xᵀy). Missing timepoints contribute 0 to both
    * Σy² and Xᵀy, and β = pinv·y already treats them as y = 0, so the
    * identity holds over OBSERVED rows only — no dense timeline × groups
    * crossJoin rebuild, no second pass over the data. One scan, one
    * broadcast of the k×n design, one hash aggregate per (group, j), one
    * per-group reduce, one key-aligned join back.
    *
    * Scale notes (100 TB): every per-group relation here (betas, sigma) is
    * O(data) — one row per voxel — so NONE of them is broadcast; the final
    * join is left to AQE (key-aligned shuffle at scale, broadcast only if
    * the group count is genuinely small). Only the k×n design table and the
    * k-row (XᵀX)⁻¹ diagonal — true constants — carry broadcast hints.
    *
    * Determinism: the per-(g,j) sums are exact DECIMAL over fixed-point
    * integers; the per-group Σ_j β·u reduction rounds each term to integer
    * micro-units first, so the sum is exact-integer and partition-order
    * free — results are bit-identical across engines and runs.
    */
  /** [[massGLM]] with the PACKED shuffle shape: each group's series is
    * folded into an n-slot long array by ONE aggregation
    * (`series_slots`; y in exact cents, absent timepoints 0), and every
    * per-regressor sum becomes an exact int64 dot product (`dot_slots`)
    * against the driver-literal fixed-point weight rows — pure
    * projections, NO design join, NO per-(group, j) aggregate, NO joins
    * at all downstream (σ folds over the k-struct array in-row; the
    * (XᵀX)⁻¹ diagonal is an element_at on a k-literal).
    *
    * Bit-identical to [[massGLM]] (spec-pinned): the long sums are
    * 100× / 10000× the classic DECIMAL sums, rescaled through exact
    * decimal division before the SAME double casts, so every emitted
    * beta/sigma/t/p goes through identical IEEE operations.
    *
    * Scale rationale: the classic path materializes k rows per
    * observation through its hash aggregate (k× the data through the
    * shuffle — 16B (g, j) rows at the reference's 400M-observation,
    * k = 40 regime); this path shuffles each observation once into a
    * |groups| × (n·8 B) packed relation. Overflow of the int64 dot
    * (possible in principle at |w·y·100·n| > 2⁶³) is a LOUD
    * Math.*Exact error, never a silent wrap. */
  def massGLMPacked(spark: SparkSession, series: DataFrame, x: LinAlg.Mat,
      groupCol: String): DataFrame = {
    import graft.functions.SeriesSlots.{dot_slots, dot_slots_rows, series_slots}
    val n = x.length
    val k = x(0).length
    val df = (n - k).toDouble
    val p = LinAlg.pinv(x)
    def wRow(j: Int): Seq[Long] =
      (0 until n).map(t => math.rint(p(j)(t) * Scale).toLong)
    def wxRow(j: Int): Seq[Long] =
      (0 until n).map(t => math.rint(x(t)(j) * Scale).toLong)
    val diag = LinAlg.xtxInvDiag(x).toSeq

    val packed = series
      .groupBy(col(groupCol))
      .agg(series_slots(col("t"), (col("y_dec") * 100).cast("long"), n).as("__ys"))
    // k (j, beta, u) structs as projections on the packed series; the
    // decimal(38,0)/100 rescale reproduces the classic DECIMAL value
    // exactly before the identical double cast. All k dots run as ONE
    // dot_slots_rows loop per weight table against the k×n nested literal,
    // and the rescale lambda evaluates through the same Catalyst
    // Cast/Divide — bit-identical to the unrolled form, but the generated
    // stage stays k-independent in code size (the unrolled 2k-chain
    // compiled, unlike the per-key join stage, yet cost ~1 s of Janino
    // time per fresh plan — a real tax once interleaved bench reps stopped
    // hitting the 100-entry codegen cache).
    val rescale = (c: Column) =>
      (c.cast("decimal(38,0)") / 100).cast("double") / Scale.toDouble
    val js = transform(sequence(lit(0), lit(k - 1)), jc =>
      struct(
        jc.cast("long").as("j"),
        rescale(element_at(col("__bl"), jc + 1)).as("beta"),
        rescale(element_at(col("__ul"), jc + 1)).as("u")))
    packed
      .select(col(groupCol),
        dot_slots_rows(col("__ys"), typedlit((0 until k).map(wRow))).as("__bl"),
        dot_slots_rows(col("__ys"), typedlit((0 until k).map(wxRow))).as("__ul"),
        ((dot_slots(col("__ys"), col("__ys")).cast("decimal(38,0)") / 10000)
          .cast("double")).as("__syyd"))
      .withColumn("__js", js)
      .drop("__bl", "__ul")
      .withColumn("__bxty", expr(
        "aggregate(__js, cast(0 as decimal(38,6)), " +
          "(acc, s) -> acc + cast(round(s.beta * s.u, 6) as decimal(38,6)))"))
      .withColumn("sse",
        greatest(col("__syyd") - col("__bxty").cast("double"), lit(0.0)))
      .withColumn("sigma", sqrt(col("sse") / df))
      .select(col(groupCol), col("sigma"), posexplode(col("__js")))
      .withColumn("t_stat", col("col.beta") / (col("sigma") *
        sqrt(element_at(typedlit(diag), (col("col.j") + 1).cast("int")))))
      .withColumn("p", graft.functions.TCdf.t_pvalue(col("t_stat"), lit(df)))
      .withColumn("df", lit(df))
      .select(col(groupCol), col("col.j").as("j"), col("col.beta").as("beta"),
        col("sigma"), col("t_stat"), col("p"), col("df"))
  }

  /** [[massGLMPacked]] generalized to PER-KEY designs — the multi-subject
    * / multi-run form of the mass GLM (ssm_loop.py:28 runs one process per
    * `$sub`; here subject/run is a COLUMN and every key's model fits in
    * ONE query). `designs` maps each key (a run/subject id) to its own
    * n×k design matrix; `series` is the long relation
    * (keyCol, groupCol, t, y_dec). Output: one row per
    * (key, group, regressor) with the identical beta/sigma/t/p arithmetic
    * as [[massGLMPacked]] — spec-pinned bit-identical when every key
    * carries the same design.
    *
    * Physical shape: the per-key fixed-point weight tables (k×n pinv rows,
    * k×n design rows, k-diagonal) are MODEL STATE — |keys|·k·n longs, a
    * catalog dimension, never data — carried as ONE broadcast row per key
    * (nested arrays); each packed series joins to its key's row and all k
    * projections run in-row exactly like the single-design path. The only
    * data-sized exchange is the one series_slots aggregation, now keyed by
    * (key, group) — same shuffle volume as before, the key just rides in
    * the grouping. At the reference's real workload (68 subjects × 4 runs
    * × k = 40 × n ≈ 300) the broadcast is ~70 MB of longs; per-key X
    * collection and pinv stay a driver-side catalog barrier, the same one
    * ssm_loop pays per process — here paid once for the whole catalog. */
  def massGLMPackedPerKey(spark: SparkSession, series: DataFrame,
      designs: Seq[(Long, LinAlg.Mat)], keyCol: String,
      groupCol: String): DataFrame = {
    require(designs.nonEmpty, "massGLMPackedPerKey: no designs")
    val n = designs.head._2.length
    val k = designs.head._2(0).length
    designs.foreach { case (key, x) =>
      require(x.length == n && x(0).length == k,
        s"design for key $key is ${x.length}×${x(0).length}, want $n×$k")
    }
    val wRows = designs.map { case (key, x) =>
      val p = LinAlg.pinv(x)
      (key,
        (0 until k).map(j => (0 until n).map(t => math.rint(p(j)(t) * Scale).toLong)),
        (0 until k).map(j => (0 until n).map(t => math.rint(x(t)(j) * Scale).toLong)),
        LinAlg.xtxInvDiag(x).toSeq)
    }
    import spark.implicits._
    val wdf = wRows.toDF(keyCol, "__ws", "__wxs", "__cjjs")
    massGLMPackedPerKeyWeights(spark, series, wdf, n, k, keyCol, groupCol,
      broadcastWeights = true)
  }

  /** The per-key weight relation (keyCol, __ws k×n pinv longs, __wxs k×n
    * design longs, __cjjs k-diagonal) computed DISTRIBUTED from a keyed
    * design frame (keyCol, tCol, regressor columns): one mapGroups per
    * key — each key's pinv is an independent k×n Breeze-free LinAlg job
    * on an executor, so the catalog never crosses to the driver. A key's
    * design is n rows of k doubles (constant-sized); the shuffle is the
    * |keys|·n design frame keyed by key, i.e. catalog-sized, never data.
    *
    * Bit-identical to the driver path ([[massGLMPackedPerKey]]'s wRows):
    * the SAME LinAlg.pinv / xtxInvDiag over the SAME doubles in the SAME
    * t-order — IEEE arithmetic is deterministic, so where the rows are
    * computed does not change a single bit (spec-pinned). */
  def designWeightsKeyed(designFrame: DataFrame, keyCol: String, tCol: String,
      regressorCols: Seq[String], n: Int): DataFrame = {
    val s = designFrame.sparkSession
    import s.implicits._
    val k = regressorCols.length
    designFrame
      .select(col(keyCol).cast("long").as("_1"), col(tCol).cast("long").as("_2"),
        array(regressorCols.map(c => col(c).cast("double")): _*).as("_3"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._2)
        require(rows.length == n,
          s"key $key design has ${rows.length} rows, want $n")
        val x: LinAlg.Mat = rows.map(_._3.toArray)
        val p = LinAlg.pinv(x)
        (key,
          (0 until k).map(j => (0 until n).map(t => math.rint(p(j)(t) * Scale).toLong)),
          (0 until k).map(j => (0 until n).map(t => math.rint(x(t)(j) * Scale).toLong)),
          LinAlg.xtxInvDiag(x).toSeq)
      }
      .toDF(keyCol, "__ws", "__wxs", "__cjjs")
  }

  /** The [[massGLMPackedPerKey]] GLM core against an ARBITRARY weight
    * relation (keyCol, __ws, __wxs, __cjjs) — driver-literal or computed
    * distributed ([[designWeightsKeyed]]). With `broadcastWeights = false`
    * the weights relation is MATERIALIZED (localCheckpoint) and joined
    * with no hint: Catalyst's static size estimate for a mapGroups output
    * is the tiny upstream scan, which would wrongly broadcast a
    * gigabyte-scale catalog (at |keys| ≈ 27k, k = 40, n ≈ 300 the weight
    * relation is ~2.6 GB), so the plan must decide from REAL sizes — the
    * checkpoint barrier resets the estimate, the static plan becomes a
    * key-aligned shuffle join, and AQE promotes it back to broadcast at
    * runtime whenever the actual weight bytes are under its threshold.
    * Small catalogs get the broadcast, large ones the shuffle, chosen by
    * measured size with zero driver logic. The checkpoint itself is
    * catalog-sized model state, the same barrier class as a k-means
    * centroid collect — never data. */
  def massGLMPackedPerKeyWeights(spark: SparkSession, series: DataFrame,
      weights: DataFrame, n: Int, k: Int, keyCol: String, groupCol: String,
      broadcastWeights: Boolean = false): DataFrame = {
    import graft.functions.SeriesSlots.{dot_slots, dot_slots_rows, series_slots}
    val df = (n - k).toDouble
    val wdf = if (broadcastWeights) broadcast(weights) else weights.localCheckpoint()
    val packed = series
      .groupBy(col(keyCol), col(groupCol))
      .agg(series_slots(col("t"), (col("y_dec") * 100).cast("long"), n).as("__ys"))
    // identical arithmetic to massGLMPacked: dots against the key's weight
    // rows, the same decimal(38,0)/100 rescale, the same double casts. The
    // k-fan-out runs as ONE dot_slots_rows loop per weight table plus a
    // transform() over the resulting long arrays — the unrolled 2k-chain
    // projection blew whole-stage codegen's 64 KB method limit at k = 40
    // (FlagshipCodegenSpec pins this stage compiling); the rescale lambda
    // evaluates through the same Catalyst Cast/Divide, so every beta/u is
    // bit-identical to the unrolled form.
    val rescale = (c: Column) =>
      (c.cast("decimal(38,0)") / 100).cast("double") / Scale.toDouble
    val js = transform(sequence(lit(0), lit(k - 1)), jc =>
      struct(
        jc.cast("long").as("j"),
        rescale(element_at(col("__bl"), jc + 1)).as("beta"),
        rescale(element_at(col("__ul"), jc + 1)).as("u")))
    packed
      .join(wdf, keyCol)
      .select(col(keyCol), col(groupCol), col("__cjjs"),
        dot_slots_rows(col("__ys"), col("__ws")).as("__bl"),
        dot_slots_rows(col("__ys"), col("__wxs")).as("__ul"),
        ((dot_slots(col("__ys"), col("__ys")).cast("decimal(38,0)") / 10000)
          .cast("double")).as("__syyd"))
      .withColumn("__js", js)
      .drop("__bl", "__ul")
      .withColumn("__bxty", expr(
        "aggregate(__js, cast(0 as decimal(38,6)), " +
          "(acc, s) -> acc + cast(round(s.beta * s.u, 6) as decimal(38,6)))"))
      .withColumn("sse",
        greatest(col("__syyd") - col("__bxty").cast("double"), lit(0.0)))
      .withColumn("sigma", sqrt(col("sse") / df))
      .select(col(keyCol), col(groupCol), col("sigma"), col("__cjjs"),
        posexplode(col("__js")))
      .withColumn("t_stat", col("col.beta") / (col("sigma") *
        sqrt(element_at(col("__cjjs"), (col("col.j") + 1).cast("int")))))
      .withColumn("p", graft.functions.TCdf.t_pvalue(col("t_stat"), lit(df)))
      .withColumn("df", lit(df))
      .select(col(keyCol), col(groupCol), col("col.j").as("j"),
        col("col.beta").as("beta"), col("sigma"), col("t_stat"), col("p"),
        col("df"))
  }

  /** M4 at the MASS scale (ssm_loop.py:97 `residual`): per-(group, t)
    * residual y − Σ_j X(t,j)·β_j, with the betas computed on the packed
    * path (bit-identical to [[massBetas]]). One series_slots aggregation
    * per group, a key-aligned join of the observation rows back to their
    * group's k-double beta array (AQE decides the join physical — both
    * sides are O(data)), and the fit is a dot_fold against the n×k design
    * literal's t-th row — no per-(observation, j) fan-out anywhere.
    * Rows with t outside [0, n) are dropped (no design row to fit).
    */
  def massResiduals(spark: SparkSession, series: DataFrame, x: LinAlg.Mat,
      groupCol: String): DataFrame = {
    import graft.functions.SeriesSlots.{dot_slots, series_slots}
    val n = x.length
    val k = x(0).length
    val p = LinAlg.pinv(x)
    def wRow(j: Int): Seq[Long] =
      (0 until n).map(t => math.rint(p(j)(t) * Scale).toLong)
    val betas = series
      .groupBy(col(groupCol))
      .agg(series_slots(col("t"), (col("y_dec") * 100).cast("long"), n).as("__ys"))
      .select(col(groupCol), array((0 until k).map { j =>
        (dot_slots(col("__ys"), typedlit(wRow(j))).cast("decimal(38,0)") / 100)
          .cast("double") / Scale.toDouble
      }: _*).as("__betas"))
    val xLit = typedlit(x.map(_.toSeq).toSeq)
    series
      .filter(col("t") >= 0 && col("t") < n)
      .join(betas, groupCol)
      .withColumn("__fit", graft.functions.VectorExprs.dot_fold(
        element_at(xLit, (col("t") + 1).cast("int")), col("__betas")))
      .select(col(groupCol), col("t"),
        (col("y_dec").cast("double") - col("__fit")).as("resid"))
  }

  def massGLM(spark: SparkSession, series: DataFrame, x: LinAlg.Mat,
      groupCol: String): DataFrame = {
    val n = x.length
    val k = x(0).length
    val df = (n - k).toDouble

    // one pass: per (g, j) — beta numerator, Xᵀy, and Σy² (same across j)
    val perGJ = series
      .join(broadcast(designTable(spark, x)), "t")
      .groupBy(col(groupCol), col("j"))
      .agg(
        sum(col("w") * col("y_dec")).as("__s"),
        sum(col("wx") * col("y_dec")).as("__us"),
        sum(col("y_dec") * col("y_dec")).as("__syy"))
      .withColumn("beta", col("__s").cast("double") / Scale.toDouble)
      .withColumn("__u", col("__us").cast("double") / Scale.toDouble)

    // per-group reduce: SSE = Σy² − Σ_j β_j·(Xᵀy)_j. Each β·u term is
    // rounded to 6 decimals and summed as exact DECIMAL — partition-order
    // free, and DECIMAL(38,6) headroom means no overflow at any realistic
    // per-group magnitude (unlike int64 micro-units).
    val sigma = perGJ
      .groupBy(col(groupCol))
      .agg(
        max(col("__syy")).cast("double").as("__syyd"),
        sum(expr("cast(round(beta * __u, 6) as decimal(38,6))")).as("__bxty"))
      .withColumn("sse",
        greatest(col("__syyd") - col("__bxty").cast("double"), lit(0.0)))
      .withColumn("sigma", sqrt(col("sse") / df))
      .select(col(groupCol), col("sigma"))

    val diag = LinAlg.xtxInvDiag(x)
    val diagDf = {
      import spark.implicits._
      diag.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toSeq.toDF("j", "cjj")
    }
    perGJ
      .join(sigma, groupCol) // per-group, O(data): no broadcast — AQE decides
      .join(broadcast(diagDf), "j")
      .withColumn("t_stat", col("beta") / (col("sigma") * sqrt(col("cjj"))))
      .withColumn("p", graft.functions.TCdf.t_pvalue(col("t_stat"), lit(df)))
      .withColumn("df", lit(df))
      .select(col(groupCol), col("j"), col("beta"), col("sigma"), col("t_stat"), col("p"), col("df"))
  }
}
