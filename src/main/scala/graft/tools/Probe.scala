package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scratch main: measure WindowExec vs TopKPerKey on a synthetic top-k
  * workload (many keys, big candidate sets). Not part of the driver
  * contract. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // 20M rows, 2000 keys, ~10k candidates per key, k=5
    val df = spark.range(0, 20000000L).select(
      (col("id") % 2000).as("g"),
      (col("id") * 2654435761L % 1000003L).cast("double").as("score"),
      col("id").as("tid"))
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("tid").asc)
    def q = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    def time(label: String): Unit = {
      q.count() // warm
      val t0 = System.nanoTime()
      var rows = 0L
      var i = 0
      while (i < 3) { rows = q.count(); i += 1 }
      println(f"$label%-12s ${(System.nanoTime() - t0) / 3e9}%.3f s/run  ($rows rows)")
    }
    time("window")
    graft.plans.TopKPerKey.install(spark)
    time("topk")
    spark.stop()
  }
}

/** Scratch main: the mass-GLM scale shape at reference-like group counts —
  * 500k series of 40 TRs (20M observation rows, k = 6 regressors), i.e.
  * the voxel regime the r2 verdict said the per-group broadcasts would
  * have OOMed in. Measures the shipped algebraic-SSE path end-to-end
  * (betas + sigma + t + p). Not part of the driver contract. */
object ProbeGlm {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val groups = 500000L
    val n = 40
    val k = 6
    // well-conditioned deterministic design: intercept + staggered cosines
    val x: Array[Array[Double]] = Array.tabulate(n, k)((t, j) =>
      if (j == 0) 1.0 else math.cos(math.Pi * j * (2 * t + 1) / (2.0 * n)))
    // two physical layouts of the same 20M rows:
    //   t-major (g = id % groups): every input partition touches EVERY
    //     group — worst case for map-side partial aggregation (3M-entry
    //     hash state per partition);
    //   g-major (g = id div n): each partition holds complete series —
    //     the layout a voxel-major ingest produces, partials stay tiny.
    def series(gMajor: Boolean) = spark.range(0, groups * n).select(
      (if (gMajor) col("id") / n else col("id") % groups).cast("long").as("g"),
      (if (gMajor) col("id") % n else col("id") / groups).cast("long").as("t"),
      // 997 is coprime with groups·37, so y VARIES within every group
      // (a constant series would mean sigma = 0 and a 0/0 t-stat)
      ((col("id") * 37 % 997).cast("decimal(18,2)") / 100).cast("decimal(18,2)").as("y_dec"))
    def time(label: String, gMajor: Boolean,
        glm: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      def q = glm(series(gMajor)).agg(count(lit(1)), sum(col("t_stat")))
      q.collect() // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < 3) { q.collect(); i += 1 }
      println(f"massGLM ${groups}g×${n}t k=$k $label: " +
        f"${(System.nanoTime() - t0) / 3e9}%.2f s/run (${groups * k} stats rows)")
    }
    time("classic t-major", gMajor = false, graft.glm.GlmOps.massGLM(spark, _, x, "g"))
    time("classic g-major", gMajor = true, graft.glm.GlmOps.massGLM(spark, _, x, "g"))
    time("packed  t-major", gMajor = false, graft.glm.GlmOps.massGLMPacked(spark, _, x, "g"))
    time("packed  g-major", gMajor = true, graft.glm.GlmOps.massGLMPacked(spark, _, x, "g"))
    spark.stop()
  }
}

/** Scratch main: full corpus re-pairing vs incremental admission on a
  * cliquey synthetic corpus (2000 base docs × 10 near-dup variants).
  * Full re-pair pays for every intra-corpus near-dup pair on EVERY
  * batch; the incremental path only pairs the arriving batch against
  * the standing corpus, so its verify set shrinks with the batch
  * fraction. Not part of the driver contract; numbers go to SCALE.md. */
object ProbeIncremental {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // each variant shares 29 of its 31 tokens' shingles with its base
    // clique → pairwise jaccard ≈ 0.87, far above the 0.5 threshold
    val docs = spark.range(0, 20000L).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 30).map(i =>
          concat(lit("w"), (col("id") / 10 * 31 + i * 7) % 1000)) :+
          concat(lit("v"), col("id") % 10): _*).as("text"))
      .cache()
    docs.count()
    val inc = docs.filter(col("doc_id") % 20 === 0)   // 5% arriving batch
    val corp = docs.filter(col("doc_id") % 20 =!= 0)  // standing corpus
    def time(label: String, q: => org.apache.spark.sql.DataFrame): Unit = {
      q.count() // warm
      val t0 = System.nanoTime()
      var rows = 0L
      var i = 0
      while (i < 3) { rows = q.count(); i += 1 }
      println(f"$label%-34s ${(System.nanoTime() - t0) / 3e9}%.3f s/run  ($rows rows)")
    }
    time("full re-pair (all 20k docs)",
      graft.dedup.DedupOps.minhashDupPairs(docs, 3, 16, 4, 0.5))
    time("incremental (1k inc vs 19k corpus)",
      graft.dedup.DedupOps.incrementalDedup(corp, inc, 3, 16, 4, 0.5))
    spark.stop()
  }
}

/** Scratch main: standing band index vs per-call re-banding, with the
  * corpus DOUBLING between runs — the production claim under test is that
  * probe cost stays ~flat as the corpus grows while the re-band path
  * grows linearly (it re-shingles + re-minhashes every corpus doc per
  * call). Also dumps the probe's executed plan (broadcast disabled) so
  * the bucketed-scan shape is auditable. Numbers go to SCALE.md. */
object ProbeStanding {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // 120-token docs: the corpus-side shingle+minhash CPU the re-band path
    // pays per call has to be big enough to measure against fixed overheads
    def mkDocs(n: Long) = spark.range(0, n).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 120).map(i =>
          concat(lit("w"), (col("id") / 10 * 31 + i * 7) % 10000)) :+
          concat(lit("v"), col("id") % 10): _*).as("text"))
    def time(label: String, q: => org.apache.spark.sql.DataFrame): Unit = {
      q.count() // warm
      val t0 = System.nanoTime()
      var rows = 0L
      var i = 0
      while (i < 3) { rows = q.count(); i += 1 }
      println(f"$label%-44s ${(System.nanoTime() - t0) / 3e9}%.3f s/run  ($rows rows)")
    }
    for (corpusN <- Seq(500000L, 1000000L, 2000000L)) {
      val docs = mkDocs(corpusN).cache(); docs.count()
      val inc = docs.filter(col("doc_id") % 20 === 0).limit(1000).cache(); inc.count()
      val corp = docs.filter(col("doc_id") % 20 =!= 0)
      val name = s"probe_standing_$corpusN"
      graft.dedup.DedupOps.buildBandIndex(spark, corp, name, 3, 16, 4,
        s"/tmp/probe_standing/$corpusN")
      time(f"re-band   probe (1k inc vs ${corpusN - corpusN/20}%d corpus)",
        graft.dedup.DedupOps.incrementalDedup(corp, inc, 3, 16, 4, 0.5))
      time(f"standing  probe (1k inc vs ${corpusN - corpusN/20}%d corpus)",
        graft.dedup.DedupOps.probeBandIndex(spark, inc, name, 0.5))
      docs.unpersist(); inc.unpersist()
    }
    if (sys.env.contains("PROBE_STANDING_PLAN")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = mkDocs(50000L)
      val probe = graft.dedup.DedupOps.probeBandIndex(
        spark, docs.filter(col("doc_id") % 20 === 0).limit(1000), "probe_standing_50000", 0.5)
      probe.count()
      println(probe.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}

/** Scratch main: incremental cluster maintenance vs full CC re-run as
  * the corpus grows. The full re-run re-pairs and re-propagates the whole
  * corpus per batch (cost grows with corpus); the incremental path pays
  * the flat standing probe + a batch-sized graph + one remap join.
  * Numbers go to SCALE.md. */
object ProbeIncClusters {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // dup GROUPS OF 2 (id div 2), unlike ProbeStanding's groups of 10: the
    // full-re-run baseline must actually run its CC over the pair graph,
    // and 10-cliques × 20k groups blow Catalyst's size estimation
    // (BigInteger overflow in SizeInBytesOnlyStatsPlanVisitor) before any
    // work happens
    // INTEGER `div` and no modulus on the group term: `/` on a long
    // column is double division (tokens then differ per id — no dup
    // pairs at all), and a modulus aliases groups g and g+mod into
    // identical token streams (pair-graph explosion)
    def mkDocs(n: Long) = spark.range(0, n).select(
      col("id").as("doc_id"),
      expr("""concat_ws(' ',
        |  concat_ws(' ', transform(sequence(0, 59),
        |    i -> concat('w', (id div 2) * 31 + i * 7))),
        |  concat('v', id % 2))""".stripMargin).as("text"))
    // single-shot: the full-re-run baseline is a multi-minute job at the
    // largest tier — warm+3 reps would quadruple a number whose point is
    // its GROWTH CURVE, not its third decimal
    def time(label: String, q: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = q.count()
      println(f"$label%-46s ${(System.nanoTime() - t0) / 1e9}%.3f s  ($rows rows)")
    }
    for (corpusN <- Seq(100000L, 200000L, 400000L)) {
      // materialize to parquet, not cache: synthetic in-memory lineage
      // gives the deep pair-detection plan Long.Max default size stats,
      // whose per-join products overflow Catalyst's BigInteger range;
      // parquet leaves carry real (small) file sizes
      mkDocs(corpusN).write.mode("overwrite")
        .parquet(s"/tmp/probe_incclusters/docs_$corpusN")
      val docs = spark.read.parquet(s"/tmp/probe_incclusters/docs_$corpusN")
      val inc = docs.filter(col("doc_id") % 20 === 0).limit(1000).cache(); inc.count()
      val corp = docs.filter(col("doc_id") % 20 =!= 0)
      val name = s"probe_incclusters_$corpusN"
      graft.dedup.DedupOps.buildBandIndex(spark, corp, name, 3, 16, 4,
        s"/tmp/probe_incclusters/$corpusN")
      // standing labels are STATE, not per-batch work — and on this
      // synthetic fixture they're known in closed form (docs pair up as
      // (2k, 2k+1); a doc's cluster is the pair min when the partner is
      // in the corpus): a pure projection stands in for the one-time CC.
      // (Running the full dedupClusters here trips Catalyst's BigInteger
      // stats overflow on the synthetic lineage — see the mkDocs note —
      // which real parquet corpora don't: q66/q107 run it at sf0.1.)
      val partner = expr("doc_id + 1 - 2 * (doc_id % 2)") // = doc_id xor 1
      val standing = corp.select(col("doc_id"),
        when(partner % 20 =!= 0 && partner < corpusN,
          least(col("doc_id"), partner)).otherwise(col("doc_id")).as("cluster"))
        .cache()
      standing.count()
      // the irreducible corpus-side cost of ANY full re-run: re-pairing
      // the union corpus (CC on top only adds rounds over these pairs)
      time(f"union re-pair  (1k batch vs ${corpusN - corpusN / 20}%d corpus)",
        graft.dedup.DedupOps.minhashDupPairs(corp.unionByName(inc), 3, 16, 4, 0.5))
      time(f"incremental    (1k batch vs ${corpusN - corpusN / 20}%d corpus)",
        graft.dedup.DedupOps.incrementalClusters(spark, standing, inc, name, 0.5))
      inc.unpersist(); standing.unpersist()
    }
    spark.stop()
  }
}

/** Scratch main: Space-Saving sketch vs exact groupBy at URL-like
  * cardinality (distinct keys ~ corpus size) — the regime the sketch
  * exists for. Exact pays a term-keyed exchange carrying one row per
  * DISTINCT key; the sketch's communication is O(capacity × partitions)
  * regardless. Numbers go to SCALE.md. */
/** Scratch main: driver-finished BPE at realistic merge counts. The
  * relational trainer launches one Spark job per round (fine at 12, dead
  * at 30k); the driver-finished form pays one word-count aggregation and
  * loops over the vocabulary in-process. Numbers go to SCALE.md. */
object ProbeBpe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.1")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s  ($n merges)")
    }
    time("relational merges, 12 rounds") {
      graft.text.BpeOps.merges(docs, 12).count()
    }
    time("driver-finished, 12 rounds") {
      graft.text.BpeOps.mergesDriver(docs, 12).count()
    }
    time("driver-finished, 1000 rounds") {
      graft.text.BpeOps.mergesDriver(docs, 1000).count()
    }
    // the documents fixture's vocabulary exhausts at ~89 merges; a
    // synthetic 100k-type corpus (base-26 id encodings, Zipf-ish counts
    // via the id range) sustains 1000 genuine rounds
    val rich = spark.range(0, 400000L).select(
      concat_ws(" ",
        expr("translate(conv(id % 100000, 10, 26), '0123456789ABCDEFGHIJKLMNOP', 'abcdefghijklmnopqrstuvwxyz')"),
        expr("translate(conv((id * id) % 99991, 10, 26), '0123456789ABCDEFGHIJKLMNOP', 'abcdefghijklmnopqrstuvwxyz')"))
        .as("text"))
    time("driver-finished, 1000 rounds, 100k-type corpus") {
      graft.text.BpeOps.mergesDriver(rich, 1000).count()
    }
    spark.stop()
  }
}

object ProbeSpaceSaving {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // 5M docs × 8 tokens: ~4M distinct "URLs" (id-salted), plus 50 hot
    // keys following a steep skew — the top-20 is unambiguous
    // hot key j in 0..49 drawn with P(j) ~ (2j+1) (sqrt skew): the exact
    // top-20 is the well-separated head 30..49, rank gaps ~9.6k
    val docs = spark.range(0, 5000000L).select(
      expr("""transform(sequence(0, 7), i -> CASE
        | WHEN (id + i) % 10 < 3 THEN concat('hot/', CAST(CAST(floor(sqrt(CAST((id * 8 + i) % 2500 AS DOUBLE))) AS LONG) AS STRING))
        | ELSE concat('u/', CAST((id * 8 + i) % 4000000 AS STRING)) END)"""
        .stripMargin).as("toks")).cache()
    docs.count()
    def time(label: String, q: => org.apache.spark.sql.DataFrame): Unit = {
      q.count() // warm
      val t0 = System.nanoTime()
      var rows = 0L
      var i = 0
      while (i < 3) { rows = q.count(); i += 1 }
      println(f"$label%-34s ${(System.nanoTime() - t0) / 3e9}%.3f s/run  ($rows rows)")
    }
    def exact = docs.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("term").asc).limit(20)
    def sketch = docs
      .agg(graft.functions.SpaceSaving.space_saving_topk(col("toks"), 8192).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "item")))
      .where(col("pos") < 20)
    time("exact groupBy top-20 (~4M keys)", exact)
    time("space_saving_topk cap=8192", sketch)
    def exactDistinct = docs.select(explode(col("toks")).as("term"))
      .agg(countDistinct("term"))
    def kmv = docs.select(explode(col("toks")).as("term"))
      // 63-bit source: modulo bias is ~P/2^63, negligible — a 32-bit
      // hash mod P would be visibly non-uniform (2^31 ≈ 2.15·P) and skew
      // the estimator by tens of percent
      .select(((xxhash64(col("term")).bitwiseAND(Long.MaxValue)) % 1000000007L).as("h"))
      .agg(graft.functions.KmvDistinct.kmv_distinct(col("h"), 1024, 1000000007L))
    time("exact countDistinct (~4M keys)", exactDistinct)
    time("kmv_distinct k=1024", kmv)
    println(s"exact=${exactDistinct.head().getLong(0)} kmv=${kmv.head().getLong(0)}")
    // agreement on the unambiguous head
    val e = exact.collect().map(_.getString(0)).toSeq
    val sk = sketch.select(col("item.term")).collect().map(_.getString(0)).toSeq
    println(s"head overlap: ${e.toSet.intersect(sk.toSet).size}/20")
    spark.stop()
  }
}

/** Scratch main: the q104 catalog-scale question — per-key mass GLM at a
  * ~5k-key catalog, driver-collected designs + one O(catalog) broadcast
  * (the pre-r11 path) vs distributed mapGroups pinv + hint-free weights
  * join (AQE picks broadcast vs key-aligned shuffle). At 5000 keys,
  * k = 8, n = 128 the weight relation is 5000·(2·8·128 + 8) longs ≈
  * 82 MB — past AQE's broadcast threshold, so the hint-free plan joins
  * by key and nothing catalog-sized crosses the driver or every
  * executor. Not part of the driver contract; numbers go to SCALE.md. */
object ProbePerKeyGlm {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.glm.{GlmOps, LinAlg}
    val keys = 5000
    val n = 128
    val k = 8
    // per-key design: intercept + key-phased cosines — every key distinct,
    // all well-conditioned
    def designOf(key: Long): LinAlg.Mat = Array.tabulate(n, k)((t, j) =>
      if (j == 0) 1.0
      else math.cos(math.Pi * j * (2 * t + 1) / (2.0 * n) + (key % 7) * 0.1))
    // the keyed design frame as a relation (what designFrameKeyed emits):
    // |keys|·n rows, k regressor columns
    val regs = (0 until k).map(j => s"x$j")
    val frame = spark.range(0, keys.toLong * n).select(
      (col("id") / n).cast("long").as("key"),
      (col("id") % n).cast("long").as("t"),
      col("id"))
      .select(col("key") +: col("t") +: (0 until k).map(j =>
        when(lit(j) === 0, 1.0)
          .otherwise(cos(lit(math.Pi * j) * (col("t") * 2 + 1) / (2.0 * n)
            + (col("key") % 7) * 0.1)).as(s"x$j")): _*)
    // 4 groups per key × n timepoints = 2.56M observation rows
    val series = spark.range(0, keys.toLong * 4 * n).select(
      (col("id") / (4 * n)).cast("long").as("key"),
      (col("id") / n % 4).cast("long").as("g"),
      (col("id") % n).cast("long").as("t"),
      ((col("id") * 37 % 997).cast("decimal(18,2)") / 100)
        .cast("decimal(18,2)").as("y_dec"))
    def time(label: String, mk: () => org.apache.spark.sql.DataFrame): Unit = {
      def q = mk().agg(count(lit(1)), sum(col("t_stat")))
      q.collect() // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < 3) { q.collect(); i += 1 }
      println(f"$label%-46s ${(System.nanoTime() - t0) / 3e9}%.2f s/run")
    }
    time(s"collected designs + broadcast ($keys keys)", () => {
      val designs = (0 until keys).map(key => (key.toLong, designOf(key)))
      GlmOps.massGLMPackedPerKey(spark, series, designs, "key", "g")
    })
    time(s"distributed pinv + hint-free join ($keys keys)", () => {
      val w = GlmOps.designWeightsKeyed(frame, "key", "t", regs, n)
      GlmOps.massGLMPackedPerKeyWeights(spark, series, w, n, k, "key", "g")
    })
    // plan evidence, read AFTER execution (AQE final plan): at 5000 keys
    // the weights join must stay a shuffle join; at 50 keys AQE should
    // promote it to broadcast from the measured checkpoint size
    def finalJoin(nKeys: Int): String = {
      val fr = frame.filter(col("key") < nKeys)
      val se = series.filter(col("key") < nKeys)
      val w = GlmOps.designWeightsKeyed(fr, "key", "t", regs, n)
      val q = GlmOps.massGLMPackedPerKeyWeights(spark, se, w, n, k, "key", "g")
        .agg(count(lit(1)))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      if (plan.contains("BroadcastHashJoin")) "BroadcastHashJoin" else "shuffle join"
    }
    println(s"weights join at 50 keys:   ${finalJoin(50)}")
    println(s"weights join at 5000 keys: ${finalJoin(5000)}")
    spark.stop()
  }
}

/** Scratch main: the q110 claim — per-batch probe cost against a
  * PERSISTED standing vector index stays flat as the corpus grows, while
  * the rebuild-every-batch path (embeddingAdmission) re-scans everything.
  * A synthetic corpus of unit-ish 16-dim vectors at 3 sizes; the same
  * 20-vector batch probes each through a 256-cell index, so the probed
  * cells are a small fraction and bucket pruning on the IN(cell) filter
  * can bite. Not part of the driver contract; numbers go to SCALE.md. */
object ProbeVecIndex {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.similarity.SimilarityOps
    def corpusOf(n: Long) = spark.range(0, n).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(sin(id * 0.7 + i * 1.3) as float))")
        .as("embedding"))
    def time(label: String)(f: => Long): Unit = {
      f // warm
      val t0 = System.nanoTime()
      var i = 0
      var n = 0L
      while (i < 3) { n = f; i += 1 }
      println(f"$label%-46s ${(System.nanoTime() - t0) / 3e9}%.2f s/probe  ($n verdicts)")
    }
    for (sz <- Seq(100000L, 400000L, 1600000L)) {
      val corpus = corpusOf(sz).filter(col("vec_id") >= 20)
      val batch = corpusOf(sz).filter(col("vec_id") < 20)
      val name = s"graft_probe_vec_$sz"
      SimilarityOps.buildVecIndex(spark, corpus, name, nCentroids = 256,
        location = s"${sys.props("java.io.tmpdir")}/graft_probe_vec/$sz",
        buckets = 64, datasetTag = sz.toString)
      time(s"probe standing index, corpus $sz") {
        SimilarityOps.probeVecIndex(spark, batch, name, nProbe = 2,
          threshold = 0.95).count()
      }
      time(s"rebuild-path admission, corpus $sz") {
        SimilarityOps.embeddingAdmission(corpusOf(sz), col("vec_id") < 20,
          nCentroids = 256, nProbe = 2, threshold = 0.95).count()
      }
    }
    spark.stop()
  }
}

/** Scratch main: the r11 larger-scale evidence row — build a DETERMINISTIC
  * 10× replication of sf0.1 under /tmp (events/documents/embeddings with
  * shifted ids — every text and vector appears 10×, which deliberately
  * stresses the dedup family with maximal duplicate skew; dimension
  * tables copied as-is) and run the most expensive queries single-shot
  * against it, surfacing any data-derived driver state (BPE vocab, design
  * collects, logit steps) that sf0.1 hides. Numbers go to SCALE.md. */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val dst = "/tmp/graft_sf1"
    val copies = 10
    val ok = java.nio.file.Paths.get(s"$dst/_OK")
    if (!java.nio.file.Files.exists(ok)) {
      def rep(df: org.apache.spark.sql.DataFrame,
          shift: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame) =
        (0 until copies).map(i => shift(df, i)).reduce(_ unionByName _)
      rep(graft.util.Tables.events(spark, src), (d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * 100000000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L)))
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      rep(graft.util.Tables.documents(spark, src), (d, i) => d
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      rep(graft.util.Tables.embeddings(spark, src), (d, i) => d
        .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
      for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
          "nation", "region"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      java.nio.file.Files.createFile(ok)
      println("built 10x dir")
    }
    graft.plans.TopKPerKey.install(spark)
    graft.SparkEntry.queries("q01_pricing_summary")(spark, dst).count() // warm
    val list = if (args.nonEmpty) args.toSeq else Seq(
      "q48_flagship_glm", "q104_multi_subject_glm", "q109_keyed_design",
      "q107_incremental_clusters", "q102_hybrid_rrf", "q108_quality_classifier",
      "q22_jaccard_pairs", "q59_jaccard_prefix", "q93_bpe_merges",
      "q106_pq_serve", "q111_ivfadc", "q85_pmi_bigrams",
      "q21_minhash_pairs", "q66_dedup_clusters",
      "q110_standing_vec", "q112_substring_dedup", "q113_semdedup",
      "q114_phash_pairs", "q115_crossmodal_manifest", "q116_normal_glm",
      "q117_semdedup_capped", "q118_cluster_quota",
      "q123_boilerplate_strip", "q124_chunking", "q125_mmr_rerank",
      "q126_standing_boilerplate", "q127_contrastive_pairs",
      "q128_clean_assembly",
      "q129_pii_scrub", "q130_intradoc_dedup", "q131_external_stage",
      "q132_resample_trilinear", "q133_epoch_shuffle",
      "q134_resample_padded", "q135_ann_recall",
      "q136_ar1_glm", "q137_dsir_weights", "q138_standing_decontam",
      "q139_ann_ndcg", "q140_group_glm", "q141_contrast_glm",
      "q142_cluster_extent", "q143_standing_dsir", "q144_epoch_schedule",
      "q145_despike", "q146_alff", "q147_calibration",
      "q148_sign_flip", "q149_zipf", "q150_auc", "q151_fdr_bh",
      "q152_maxt", "q153_leakage_split", "q154_feature_whiten",
      "q155_inference_chain", "q156_standing_second_level", "q157_ar1_chain")
    for (n <- list) {
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      // toRdd, not count(): same row count, but executes the query's own
      // plan — count() lets the optimizer prune aggregate functions and
      // verdict joins (the Bench lesson, see SCALE.md)
      val r = try Right(fn(spark, dst).queryExecution.toRdd.count()) catch {
        case e: Throwable => Left(e.toString.take(200))
      }
      r match {
        case Right(c) =>
          println(f"$n%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s  $c%10d rows")
        case Left(e) =>
          println(f"$n%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s  FAILED: $e")
      }
    }
    spark.stop()
  }
}

/** Time a single named SparkEntry query in isolation (args: name [sfDir]
  * [reps]) — the attribution tool Bench's full-suite passes can't be: one
  * query, warm JVM, N reps, no alphabetical neighbors to share a
  * contention window with. */
/** Native SegDedup kernel vs the HOF spec form, same toRdd statistic —
  * backs the SCALE.md intra-doc dedup row. */
object ProbeSegDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def time(label: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count() // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$label: ${ts.map(t => f"$t%.2f").mkString(", ")}  min=${ts.min}%.2f")
    }
    time("native", graft.text.CurationOps.intraDocDedup(docs, 2))
    time("hof-spec", graft.text.CurationOps.intraDocDedupSpec(docs, 2))
    spark.stop()
  }
}

object ProbeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q48_flagship_glm")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      // match Bench's AQE coalescing floor so probe numbers attribute
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "512k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopKPerKey.install(spark)
    // comma-separated names probe several queries in one JVM (shared warm
    // session), in the given order
    for (n <- name.split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = graft.SparkEntry.queries(n)
      // toRdd like Bench/ProbeScale: count() would let Catalyst prune
      // aggregate functions / final sorts / projection-only work entirely
      def run(): Unit = { fn(spark, sfDir).queryExecution.toRdd.count(): Unit }
      run() // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n: ${ts.map(t => f"$t%.2f").mkString(", ")}  min=${ts.min}%.2f")
    }
    spark.stop()
  }
}

/** Attribute TaskSetManager "task of very large size" warnings to queries:
  * run every SparkEntry query SERIALLY at WARN log level with a stdout
  * marker per query, so the interleaved warning lines map one-to-one onto
  * the query that scheduled the oversized stage (the bench's parallel
  * pools make the stage numbers useless for attribution). */
object ProbeTaskSize {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.lift(1).map(_.split(",").toSet)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKPerKey.install(spark)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
        // stderr so the marker interleaves with log4j's stderr warnings
        System.err.println(s"=== PROBE $name")
        System.err.flush()
        try fn(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"=== ERR $name: $e") }
      }
    System.err.println("=== PROBE done")
    spark.stop()
  }
}

/** Pin the oversized-task stage of ONE query to its call site: register a
  * listener mapping stage id → details (creation call site), run the
  * query, then re-read the TaskSetManager warning's stage id against the
  * map. */
object ProbeStageSite {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q48_flagship_glm")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKPerKey.install(spark)
    val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          sites.put(e.stageInfo.stageId,
            e.stageInfo.name + " :: tasks=" + e.stageInfo.numTasks +
              " :: rdds=" + e.stageInfo.rddInfos.map(r => r.name + "@" + r.scope.map(_.name).getOrElse("?")).mkString(" | "))
      })
    graft.SparkEntry.queries(name)(spark, sfDir).count()
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq.sortBy(_._1).foreach { case (id, d) =>
      System.err.println(s"STAGE $id :: $d")
    }
    spark.stop()
  }
}

/** Quantify the phash band-pooling improvement (r12 verdict item 1) on
  * the 10× dup-skew fixture: candidate pairs per geometry are
  * Σ_(r,bv) C(n,2) over band-bucket sizes — a pure aggregation, no join —
  * for the retired 32-bit/8-bit-band geometry vs the shipped
  * 64-bit/16-bit one, next to the verified-pair count (the output-bound
  * floor no banding can beat on this fixture: every doc has 10 payload
  * copies). */
object ProbePhashCand {
  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/tmp/graft_sf1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.BinaryExprs
    val media = spark.read.parquet(s"$dst/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val n = media.count()
    def candPairs(ph: org.apache.spark.sql.Column, bands: Int, bits: Int): Long = {
      val mask = (1L << bits) - 1
      media.select(ph.as("ph"))
        .select(explode(array((0 until bands).map(r =>
          struct(lit(r).as("r"),
            shiftright(col("ph"), bits * r).bitwiseAND(lit(mask)).as("bv"))): _*)).as("bd"))
        .groupBy("bd.r", "bd.bv").count()
        .agg(sum(expr("count * (count - 1) div 2")).cast("long")).head().getLong(0)
    }
    val c32 = candPairs(BinaryExprs.phash32(col("payload")), 4, 8)
    val c64 = candPairs(BinaryExprs.phash64(col("payload")), 4, 16)
    val verified = graft.multimodal.PhashOps.pairRelation(media).count()
    println(f"docs=$n  cand32/8=$c32  cand64/16=$c64  ratio=${c32.toDouble / c64}%.1f  verified(tau=3)=$verified")
    spark.stop()
  }
}

/** Standing perceptual index: per-batch probe cost vs corpus growth —
  * the media twin of ProbeStanding/ProbeVecIndex. Synthetic payloads are
  * deterministic byte signals (one pHash per doc); every 50th doc is a
  * +1-perturbed copy of a corpus doc so the probe verifies real
  * candidates, not just empty buckets. The re-band path (pairRelation on
  * corpus ∪ batch) re-fingerprints the corpus per call; the standing
  * probe pays only the batch side. Numbers go to SCALE.md. */
object ProbePhashStanding {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // 3 KB payloads with doc-seeded broadband structure: the corpus-side
    // fingerprint CPU the re-band path pays per call must be measurable
    def mkMedia(n: Long) = spark.range(0, n).select(
      col("id").as("doc_id"),
      // deterministic pseudo-random bytes per doc: repeat the doc seed
      // through a hash chain; near-dups (id % 50 == 1) copy id-1's bytes
      // via the same generator so the probe has true candidates
      expr("""
        aggregate(sequence(0, 95),
          cast('' as binary),
          (acc, i) -> concat(acc, unhex(substring(
            md5(concat(cast(doc_id - (case when doc_id % 50 = 1 then 1 else 0 end) as string), '_', cast(i as string))), 1, 32))))
      """).as("payload"))
    def time(label: String, q: => org.apache.spark.sql.DataFrame): Unit = {
      q.count() // warm
      val t0 = System.nanoTime()
      var rows = 0L
      var i = 0
      while (i < 3) { rows = q.count(); i += 1 }
      println(f"$label%-46s ${(System.nanoTime() - t0) / 3e9}%.3f s/run  ($rows rows)")
    }
    import graft.multimodal.PhashOps
    for (corpusN <- Seq(250000L, 500000L, 1000000L)) {
      val media = mkMedia(corpusN)
      val inc = media.filter(col("doc_id") % 50 === 1).limit(1000)
        .localCheckpoint()
      val corp = media.filter(col("doc_id") % 50 =!= 1)
      val name = s"probe_phstanding_$corpusN"
      Seq("pbands", "pdocs", "pmeta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
      PhashOps.buildPhashIndex(spark, corp, name,
        s"/tmp/probe_phstanding/$corpusN")
      time(f"re-band  probe (1k inc vs ${corpusN - corpusN/50}%d corpus)",
        PhashOps.pairRelation(corp.unionByName(inc)))
      time(f"standing probe (1k inc vs ${corpusN - corpusN/50}%d corpus)",
        PhashOps.probePhashIndex(spark, inc, name))
    }
    spark.stop()
  }
}

/** Corpus-growth sweep for the standing segment-frequency store (q126):
  * the no-store path re-counts segment frequencies over the UNION per
  * batch (cost grows with the corpus); the standing probe pays only
  * batch segmentation + a probe of the bucketed store — flat. Docs are
  * ~30 md5-derived unique tokens; every 10th doc carries a planted
  * 6-token boilerplate segment so the verdicts are non-trivial. */
object ProbeSegFreqStanding {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def mkDocs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("doc_id"),
      expr("""concat(
        case when id % 10 = 0 then 'b0 b1 b2 b3 b4 b5 ' else '' end,
        array_join(transform(sequence(0, 23),
          i -> substring(md5(concat(cast(id as string), '_', cast(i as string))), 1, 6)), ' '))""").as("text"))
    // force the FREQUENCY branch: a bare count() lets Catalyst drop the
    // verdict join entirely (left join against a unique-key aggregate is
    // multiplicity-preserving, so the boilerplate subtree is dead code
    // for row counting) — aggregate a verdict-dependent column instead
    def force(q: org.apache.spark.sql.DataFrame): Long =
      q.agg(sum(col("kept_tokens"))).head().getLong(0)
    def time(label: String, q: => org.apache.spark.sql.DataFrame): Unit = {
      force(q) // warm
      val t0 = System.nanoTime()
      var kept = 0L
      var i = 0
      while (i < 3) { kept = force(q); i += 1 }
      println(f"$label%-52s ${(System.nanoTime() - t0) / 3e9}%.3f s/run  (kept $kept)")
    }
    import graft.text.CurationOps
    for (corpusN <- Seq(1000000L, 2000000L, 4000000L)) {
      val corp = mkDocs(0, corpusN)
      val inc = mkDocs(2000000000L, 2000000000L + 1000).localCheckpoint()
      val name = s"probe_segfreq_$corpusN"
      Seq("segs", "docs", "meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
      CurationOps.buildSegFreqStore(spark, corp, name, segTokens = 6,
        minDocs = 3, location = s"/tmp/probe_segfreq/$corpusN")
      time(f"re-count strip (1k inc vs $corpusN%d corpus)",
        CurationOps.boilerplateStrip(corp.unionByName(inc), 6, 3)
          .filter(col("doc_id") >= 2000000000L))
      time(f"standing strip (1k inc vs $corpusN%d corpus)",
        CurationOps.probeSegFreqStrip(spark, inc, name))
    }
    spark.stop()
  }
}
