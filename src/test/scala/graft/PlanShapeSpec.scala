package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape assertions: the performance claims in SCALE.md,
  * locked in as tests so a refactor that silently loses pushdown or a
  * broadcast fails CI, not the bench.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q02: filter and projection are pushed into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), IsNotNull(o_totalprice), EqualTo(o_orderstatus,O)")
      || p.contains("EqualTo(o_orderstatus,O)"), p.take(800))
    // scan reads only the needed columns, not the full orders schema
    assert(p.contains("o_orderpriority") && !p.contains("o_comment"))
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan("q03_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  /** A warm run of query `name` built and written to parquet, as a dump
    * does, on a session with the engine's optimizer rules installed: the
    * query's optimized plan, the jobs of the second run and the executed
    * plans of every SQL execution it ran (the folds, pins and the write). */
  private def warmRun(name: String): (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Int, Seq[String]) = {
    val s = spark.newSession()
    graft.plans.TopKPerKey.install(s)
    val out = java.nio.file.Files.createTempDirectory("graft-planshape").toString
    def run() = {
      val df = SparkEntry.queries(name)(s, sf001)
      df.write.mode("overwrite").parquet(out)
      df
    }
    run()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      // a plan run without an action (a fold) is still one SQL execution
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(x.physicalPlanDescription): Unit
          case _ =>
        }
    }
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
    s.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    val df = try run() finally {
      org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
      spark.sparkContext.removeSparkListener(jl)
      s.listenerManager.unregister(ql)
    }
    import scala.jdk.CollectionConverters._
    (df.queryExecution.optimizedPlan, jobs.get, plans.asScala.toSeq)
  }

  test("q16/q35/q33: the GLM design stages run at most 2 jobs and no range exchange") {
    // one fold merged on the driver (one job, no exchange), the driver
    // kernels, and the write; the final sort folds into the driver-local
    // rows
    for (name <- Seq("q16_boxcar_design", "q35_hrf_convolve", "q33_mass_glm_betas")) {
      val (_, jobs, plans) = warmRun(name)
      assert(jobs <= 2, s"$name ran $jobs jobs:\n${plans.mkString("\n")}")
      assert(!plans.exists(_.contains("rangepartitioning")), s"$name:\n${plans.mkString("\n")}")
    }
  }

  test("q33: the series folds with no exchange or join; the betas are driver-local") {
    val (opt, _, plans) = warmRun("q33_mass_glm_betas")
    assert(!plans.exists(p => p.contains("Join") || p.contains("Exchange")),
      plans.mkString("\n"))
    assert(opt.collectLeaves().forall(_.nodeName == "LocalRelation"), opt.toString)
  }

  test("massGLM: broadcast hints only on constant design tables, never on per-group relations") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, ResolvedHint}
    import graft.glm.{GlmOps, LinAlg}
    val s = spark
    import s.implicits._
    val n = 8
    val x: LinAlg.Mat = Array.tabulate(n, 2)((t, j) => if (j == 0) 1.0 else t.toDouble)
    val series = (0 until n)
      .map(t => ("a", t.toLong, BigDecimal(t).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .toDF("g", "t", "y_dec")
      .withColumn("y_dec", col("y_dec").cast("decimal(18,2)"))
    val analyzed = GlmOps.massGLM(s, series, x, "g").queryExecution.analyzed
    val hints = analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "expected broadcast hints on the k×n design tables")
    // every hinted subtree must bottom out in driver-literal LocalRelations —
    // a hint over a per-group (O(data)) relation is the 100 TB memory bomb
    // the round-2 verdict flagged
    hints.foreach { h =>
      assert(h.child.collectLeaves().forall(_.isInstanceOf[LocalRelation]),
        s"broadcast hint over a non-constant relation:\n${h.child.treeString}")
    }
  }

  test("q64: global signal semi-joins a broadcast mask; series is never sort-merge joined") {
    val p = plan("q64_global_signal")
    // the atlas mask is O(volume): it must broadcast so the O(data) series
    // streams through the semi-join map-side
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "mask semi-join degraded to SMJ")
  }

  test("q61: fwhm=4 smooth is block+halo — one exchange by block id, no tap cross join") {
    val p = plan("q61_smooth_fwhm")
    // cells are exchanged ONCE by spatial block and gathered per block; the
    // kernel is a driver array, never a broadcast tap table
    assert("hashpartitioning\\(bx#\\d+, by#\\d+, bz#\\d+".r.findAllIn(p).size === 1,
      p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q49: IVF cell assignment is map-side — no window, no k× corpus shuffle") {
    val p = plan("q49_ivf_topk")
    // only the FINAL per-query ranking may be a Window; the corpus×k
    // assignment must be the greatest()-over-struct projection, not a
    // row_number over a k-times-replicated corpus
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows <= 1, s"expected at most the final ranking window, got $windows:\n${p.take(1200)}")
  }

  test("q68: the eval gram set broadcasts; the training corpus is never sort-merge joined") {
    val p = plan("q68_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "eval-gram join degraded to SMJ")
  }

  test("q74/q76: nProbe probe list is a projection — still at most one window each") {
    for (name <- Seq("q74_ivf_nprobe", "q76_ivf_trained")) {
      val p = plan(name)
      // the per-query probe cells come from array_sort over centroid-literal
      // structs (a projection), the corpus assignment from greatest(); only
      // the final per-query ranking may plan as a Window
      val windows = "Window \\[".r.findAllIn(p).size
      assert(windows <= 1, s"$name: expected at most the final ranking window, got $windows")
      // the benchmark-sized query/probe side must broadcast into the join
      assert(p.contains("BroadcastHashJoin"), s"$name:\n${p.take(800)}")
    }
  }

  test("q75: eval grams broadcast; only contamination-sized hits reach the window") {
    val p = plan("q75_substring_decontam")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "eval-gram join degraded to SMJ")
    // the gaps-and-islands window partitions by doc_id — never global
    assert(!p.contains("Window [") || !p.contains("SinglePartition"),
      "islands window collapsed to a single partition")
  }

  test("q88: heavy hitters never hash-exchange on the term — fixed-size partials only") {
    val p = plan("q88_heavy_hitters")
    // the Space-Saving point: no per-term shuffle. The only exchanges are
    // the single-partition gather of capacity-sized summaries and the
    // final ORDER BY's range partitioning.
    assert(!p.contains("Exchange hashpartitioning"),
      "heavy hitters degraded to a term-keyed exchange\n" + p.take(1200))
    assert(p.contains("Exchange SinglePartition"), p.take(1200))
  }

  test("q89: quantize stage is map-only over a broadcast codebook") {
    val p = plan("q89_int8_quant")
    // per-dim stats may hash-exchange on `d` (dim-cardinality rows after
    // map-side combine); the corpus itself must meet the codebook via
    // broadcast, never a sort-merge join.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1200))
    assert(!p.contains("SortMergeJoin"), "codebook join degraded to SMJ")
  }

  test("q16: boxcar has no nested-loop over the timeline×trials product") {
    // bucket expansion: Generate (explode) in the folded hit plan; the
    // TRIALS side is never cross-joined in full
    val (_, _, plans) = warmRun("q16_boxcar_design")
    assert(plans.exists(_.contains("Generate")), plans.mkString("\n"))
    assert(!plans.exists(p => p.contains("NestedLoopJoin") || p.contains("CartesianProduct")),
      plans.mkString("\n"))
  }

  test("q23: simhash is a pure map stage — no exchange, no generate") {
    val p = plan("q23_simhash")
    assert(!p.contains("Generate"), "simhash still explodes rows")
    // the only allowed exchange is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      "simhash shuffles — the one-pass expression should make it map-only")
  }

  test("q24/q25: token stats and lang-ID have no per-token explode") {
    assert(!plan("q24_text_stats").contains("Generate"))
    assert(!plan("q25_lang_id").contains("Generate"))
  }

  test("q27: query side is broadcast; corpus is never hash-exchanged for the join") {
    val p = plan("q27_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
  }

  test("q79: BM25 is one corpus pass — broadcast stats, global top-N, no window") {
    val p = plan("q79_bm25_topk")
    // the 1-row statistics aggregate joins back as a broadcast; the corpus
    // itself must never be exchanged for the join or sorted whole
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-N degraded to a full sort")
    assert(!p.contains("Window"), "BM25 must not rank via a window")
  }

  test("q179: resample is TakeOrdered top-N; the only window runs on the N-row result") {
    val p = plan("q179_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"), "top-N degraded to a full sort")
    // the rank stamp may window, but only ABOVE the TakeOrdered (N rows);
    // nothing below the TakeOrdered may be a Window or a global Sort
    val below = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!below.contains("Window"), "a window reached the corpus side")
  }

  test("q78: TF-IDF idf join is broadcast — the corpus tf relation is never re-shuffled for it") {
    val p = plan("q78_tfidf_terms")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"), "vocabulary-sized df relation degraded to SMJ")
    // the single doc_id repartition serves BOTH the (doc_id, term)
    // aggregate and the rank window (HashPartitioning(doc_id) satisfies
    // their clusterings by the subset rule) — no second doc-keyed shuffle
    val docKeyed = "hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(docKeyed === 1, s"expected exactly 1 doc-keyed exchange, got $docKeyed:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q112: corpus substring dedup joins grams by key — no nested loop, no cartesian") {
    val p = plan("q112_substring_dedup")
    assert(!p.contains("CartesianProduct"), "gram self-check degraded to a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(500))
  }

  test("q109: keyed design scans prune to the event columns they need") {
    val p = plan("q109_keyed_design")
    // trials need (ts, value, event_type [, user_id for the key]);
    // props must never reach any of the events scans
    assert(p.contains("ReadSchema"))
    assert(!p.contains("props"), "events scan reads the unused props column")
  }

  test("q114/q115: payload bytes stay in the scan stage — no exchange carries text") {
    // the perceptual-hash pipeline's contract: only 8-byte fingerprints
    // and band keys shuffle; the payload (here the text stand-in) must be
    // consumed by phash32 inside the scan stage and never serialize
    // through an Exchange. q115's text-dedup window legitimately
    // partitions by text — only lines that ALSO carry a phash column are
    // the defect.
    for (q <- Seq("q114_phash_pairs", "q115_crossmodal_manifest")) {
      val p = plan(q)
      val exchangeLines = p.split("\n").filter(_.contains("Exchange"))
      assert(exchangeLines.nonEmpty, s"$q plan shows no exchange at all")
      val offending = exchangeLines.filter(l =>
        l.contains("ph#") && l.contains("text#"))
      assert(offending.isEmpty,
        s"$q shuffles payload bytes alongside fingerprints:\n${offending.mkString("\n")}")
    }
  }

  test("q181/q191: BQ codes never shuffle with vectors; query side broadcasts") {
    // the 1-bit serving contract: sign-bit words are computed map-only in
    // the scan stage and the (broadcast) query join never hash-exchanges
    // the corpus; no Exchange line may carry the full vector column v
    // alongside a code column (that would mean codes shuffled WITH their
    // 8×-larger source vectors instead of replacing them)
    for (q <- Seq("q181_binary_hamming", "q191_binary_rerank")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: query side must broadcast\n" + p.take(400))
      val offending = p.split("\n").filter(_.contains("Exchange"))
        .filter(l => l.contains("code#") && l.contains(" v#"))
      assert(offending.isEmpty,
        s"$q shuffles vectors alongside codes:\n${offending.mkString("\n")}")
    }
  }

  test("q186: frame bytes stay in the scan stage — the pair join carries fingerprints only") {
    // the q114 contract at the frame grain: phash64 consumes the frame
    // inside the scan; only (doc_id, frame_idx, ph) shuffles
    val p = plan("q186_keyframe_dedup")
    val offending = p.split("\n").filter(_.contains("Exchange"))
      .filter(l => l.contains("frame#") || l.contains("text#"))
    assert(offending.isEmpty,
      s"q186 shuffles frame/payload bytes:\n${offending.mkString("\n")}")
  }

  test("q194: GSR joins are broadcast-only — the NP-bounded marginals never sort-merge") {
    val p = plan("q194_gsr_connectome")
    assert(!p.contains("SortMergeJoin"),
      "q194 degraded an NP-bounded join to SMJ:\n" + p.take(600))
  }

  test("q208/q215: the pinned edge relation is driver-local — no join, aggregate or exchange") {
    // both pin corenessPairs: q168's pair moments come off the driver
    // kernel, so the r, threshold and edge projections fold into it
    val qe = graft.queries.DesignImage.corenessPairs(spark, sf001).queryExecution
    val ops = qe.optimizedPlan.collect { case n => n.nodeName }
    assert(!ops.exists(n => n.contains("Join") || n.contains("Aggregate")),
      qe.optimizedPlan.toString)
    assert(!qe.executedPlan.toString.contains("Exchange"), qe.executedPlan.toString)
  }

  test("q208/q215: building the edge relation runs one job, no shuffle output, no checkpoint") {
    // the parcel series folds lineitem rows straight into parcels per
    // partition and merges them on the driver; pairMoments reads those rows
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.name,
          e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0))
    }
    org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(listener)
    try graft.queries.DesignImage.corenessPairs(spark, sf001) finally {
      org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
      spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val all = stages.asScala.toSeq
    assert(jobs.get == 1, s"${jobs.get} jobs, stages: $all")
    assert(!all.exists(_._2), s"stages writing shuffle output: $all")
    assert(!all.exists(_._1.startsWith("localCheckpoint")), s"stages: $all")
  }

  test("q213/q214/q218/q227/q228: the graph tail is pinned — LocalRelation leaves, only a sort") {
    // each reads q168's driver-local pair relation and pins its whole
    // NP²-bounded tail: the parcel aggregate is folded, not checkpointed,
    // and nothing past the pin re-plans a join, aggregate or window
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    for (name <- Seq("q213_rich_club", "q214_assortativity",
        "q218_attack_robustness", "q227_rich_club_weighted",
        "q228_assortativity_strength")) {
      val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          j.stageInfos.map(_.name).find(_.startsWith("localCheckpoint")).foreach(sites.add)
      }
      spark.sparkContext.addSparkListener(listener)
      val df = try SparkEntry.queries(name)(spark, sf001) finally {
        org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(sites.isEmpty, s"$name checkpoints at $sites")
      val p = df.queryExecution.optimizedPlan
      assert(p.collectLeaves().forall(_.nodeName == "LocalRelation"), s"$name:\n$p")
      val ops = p.collect { case n => n.nodeName }
      assert(!ops.exists(n => n.contains("Join") || n.contains("Aggregate") ||
        n.contains("Window")), s"$name:\n$p")
      // what is left is a sort of the pinned rows, which the installed
      // SortLocalRelation runs on the driver: the same rows, same order
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      graft.plans.SortLocalRelation(p) match {
        case l: LocalRelation => assert(l.data.map(toRow) == df.collect().toSeq, name)
        case other => fail(s"$name: the sort did not fold:\n$other")
      }
    }
  }

  test("q116: the Gauss-Jordan solve is projection-only — no exchange in the elimination") {
    // beta = (XtX)^-1 Xty runs as generated per-group projections: the
    // plan's exchanges serve the moment aggregations, the grid join, and
    // the final sort — the k-stage elimination adds none (its g{p}_{i}_{j}
    // columns never appear in an Exchange line)
    val p = plan("q116_normal_glm")
    val offending = p.split("\n")
      .filter(_.contains("Exchange")).filter(_.contains("g0_"))
    assert(offending.isEmpty,
      s"q116 shuffles mid-elimination:\n${offending.mkString("\n")}")
    assert(p.contains("Project"), "expected the GJ projection stages")
  }

  test("q136: one data-sized exchange; whitened solve is broadcast + projection only") {
    // the events scan feeds ONE (g,t) partial aggregation; every later
    // stage (grid fill, OLS betas, residual lag, rho, whitened normal
    // equations, Gauss-Jordan) runs on bounded Groups×N relations joined
    // by broadcast — no elimination column ever crosses an exchange
    val p = plan("q136_ar1_glm")
    val offending = p.split("\n")
      .filter(_.contains("Exchange")).filter(_.contains("g0_"))
    assert(offending.isEmpty,
      s"q136 shuffles mid-elimination:\n${offending.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), "literal design joins must broadcast")
    // the events-side aggregate is partial (map-side combine) before its
    // exchange: HashAggregate appears below the first hashpartitioning
    assert(p.contains("HashAggregate"), p.take(400))
  }

  test("q137/q154: corpus text never crosses an exchange; models re-enter as broadcasts") {
    // DSIR scoring and whitening are frozen-model projections: the only
    // shuffles carry bucket histograms / moment rows, never document
    // payloads — at 100 TB that is the difference between shuffling
    // kilobytes and shuffling the corpus
    for (q <- Seq("q137_dsir_weights", "q154_feature_whiten")) {
      val p = plan(q)
      val offending = p.split("\n")
        .filter(_.contains("Exchange")).filter(_.contains("text#"))
      assert(offending.isEmpty,
        s"$q shuffles document text:\n${offending.mkString("\n")}")
    }
    // q154's factor relation is one broadcast row
    assert(plan("q154_feature_whiten").contains("Broadcast"),
      "whitening factors must broadcast")
  }

  test("q142: everything after the grid aggregate is volume-bounded — no voxel exchange") {
    // the ONE data-sized exchange is the (x,y,z) grid aggregation; the
    // supra/label joins below it are broadcasts of <= L^3 rows
    val p = plan("q142_cluster_extent")
    val gridExchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    // grid agg + final-order rangepartitioning allowed; no join-driven
    // voxel-keyed exchange (vid never appears in a hashpartitioning)
    val offending = gridExchanges.filter(_.contains("vid#"))
    assert(offending.isEmpty,
      s"q142 shuffles the voxel relation:\n${offending.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), "cluster labels must broadcast")
  }

  test("q95 corpus assembly: dedup/contam gates are broadcast-probed, packing windows partitioned") {
    val s = spark
    val df = graft.queries.TextDedup.corpusAssembly(s, sf0001)
    assert(df.count() > 0)
    val p = df.queryExecution.executedPlan.toString
    // the id-set gates (near-dup drops, contamination flags) are tiny
    // relative to the corpus: they must probe as broadcast joins, never
    // shuffle the corpus side for an anti-join
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).size >= 2,
      "anti-join gates not broadcast:\n" +
        p.split("\n").filter(_.contains("Anti")).mkString("\n"))
    // the pack window carries its (split, lang) partition key
    val windows = p.split("\n").filter(_.contains("Window ["))
    assert(windows.nonEmpty)
    windows.foreach(l => assert(l.contains("split") && l.contains("lang"),
      s"unpartitioned pack window: $l"))
  }

  test("q123: boilerplate set broadcasts; only the reassembly exchange carries text") {
    val p = plan("q123_boilerplate_strip")
    // the >= minDocs frequency relation is heavy-hitter-sized → broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), "boilerplate join degraded to SMJ")
    // exactly ONE exchange is keyed by doc_id (the reassembly groupBy —
    // the operator's single text-carrying shuffle); the frequency
    // exchanges are keyed by segment hash only
    val docExchanges = p.split("\n")
      .filter(l => l.contains("Exchange hashpartitioning(doc_id"))
    assert(docExchanges.length == 1, docExchanges.mkString("\n"))
  }

  test("q124: chunker is a pure map stage — no join, no hash exchange") {
    val p = plan("q124_chunking")
    assert(!p.contains("Join"), "chunker should not join anything")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunker shuffled — only the final sort's range exchange is expected")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must prune to doc_id + text")
  }

  test("q129: PII scrub is a pure map stage reading only doc_id + text") {
    val p = plan("q129_pii_scrub")
    assert(!p.contains("Join"), "scrub should not join anything")
    assert(!p.contains("Exchange hashpartitioning"),
      "scrub shuffled — only the final sort's range exchange is expected")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must prune to doc_id + text")
  }

  test("q130: intra-doc dedup is a pure map stage (native kernel, no fan-out)") {
    val p = plan("q130_intradoc_dedup")
    assert(!p.contains("Join") && !p.contains("Generate"),
      "per-doc dedup must not join or explode")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-doc semantics paid a cross-doc shuffle")
    assert(p.contains("seg_dedup"), "native kernel missing from the plan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must prune to doc_id + text")
  }

  test("q150/q151: no unpartitioned window over a data-sized relation") {
    // BH ranks voxels×contrasts hypotheses at the mass regime and AUC ranks
    // the eval slice — a global row_number there is a single-partition sort
    // of the whole input. Both reduce exactly to distinct-value cumulative
    // counts, so the ONLY unpartitioned window allowed in either plan is one
    // whose input has already been collapsed by an aggregation (the
    // distinct-p / distinct-score relation).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    for (q <- Seq("q150_auc", "q151_fdr_bh")) {
      val lp = SparkEntry.queries(q)(spark, sf001).queryExecution.optimizedPlan
      val offending = lp.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collect { case a: Aggregate => a }.isEmpty => w
      }
      assert(offending.isEmpty,
        s"$q runs an unpartitioned window over a non-aggregated relation:\n" +
          offending.map(_.treeString).mkString("\n"))
    }
  }

  test("q159/q161: QC windows stay run-partitioned; the model cap is a TakeOrdered, not a sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // every q159 window (param deltas, censor augmentation) partitions by
    // run — motion QC must never funnel the corpus through one task
    val lp159 = SparkEntry.queries("q159_fd_scrub")(spark, sf001)
      .queryExecution.optimizedPlan
    val unpart = lp159.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(unpart.isEmpty,
      s"q159 has unpartitioned windows:\n${unpart.map(_.treeString).mkString("\n")}")
    // q161's top-V model freeze must plan as TakeOrdered (per-partition
    // top-V, merged) — a global Sort of the vocabulary is the q151 class
    val pp161 = SparkEntry.queries("q161_capped_ppl")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(pp161.contains("TakeOrderedAndProject"),
      s"q161 cap lost its TakeOrdered shape:\n${pp161.take(1000)}")
  }

  test("q133: epoch shuffle scan prunes to doc_id alone") {
    val p = plan("q133_epoch_shuffle")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      "nothing but the key should be read")
  }

  test("q132: trilinear resample keeps the NN exchange structure (no nested loop)") {
    val p = plan("q132_resample_trilinear")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "corner join degraded to a non-keyed join")
    // output-cell aggregation is exactly one (x, y, z)-keyed exchange
    val outExchanges = p.split("\n")
      .filter(l => l.contains("Exchange hashpartitioning(x"))
    assert(outExchanges.length == 1, outExchanges.mkString("\n"))
  }

  test("q133: epoch shuffle pays exactly one hash exchange (the shard window)") {
    val p = plan("q133_epoch_shuffle")
    assert(!p.contains("Join"), "epoch shuffle should not join anything")
    val hashExchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges.length == 1, hashExchanges.mkString("\n"))
  }

  test("q125: packed MMR — one hash exchange, top-k limited before it") {
    val p = plan("q125_mmr_rerank")
    // the corpus side never fully shuffles: WindowGroupLimit(Partial)
    // bounds each map partition to poolK rows per query pre-exchange
    assert(p.contains("WindowGroupLimit"), p.take(800))
    val hashExchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges.length == 1,
      s"packed MMR should pay exactly one hash exchange (query_id):\n${hashExchanges.mkString("\n")}")
    // pool collection reuses the window's partitioning — no second exchange
    assert(!p.contains("SortMergeJoin"))
  }

  test("q126: standing probe reads the bucketed store without exchanging it") {
    val p = plan("q126_standing_boilerplate")
    // batch hashes broadcast into the store scan; the store side must
    // never hash-exchange (its only exchanges are batch-sized: the
    // batch's own counts and the reassembly)
    assert(p.contains("Bucketed: true"), "store scan lost its bucketing")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    val storeExchange = p.split("\n").sliding(8).exists(w =>
      w.head.contains("Exchange hashpartitioning") &&
        w.exists(_.contains("graft_segfreq")) && !w.exists(_.contains("Broadcast")))
    assert(!storeExchange, "standing segs store is shuffled at probe time")
  }

  test("bucketed co-located join plans with zero shuffle exchanges") {
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      s.sql("DROP TABLE IF EXISTS graft_li_bucketed")
      s.sql("DROP TABLE IF EXISTS graft_ord_bucketed")
      s.read.parquet(s"$sf0001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .option("path", "/tmp/graft_bucketed/li")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_li_bucketed")
      s.read.parquet(s"$sf0001/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .option("path", "/tmp/graft_bucketed/ord")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_ord_bucketed")
      val joined = s.table("graft_li_bucketed")
        .join(s.table("graft_ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("qty"), max(col("o_totalprice")).as("tp"))
      assert(joined.count() > 0)
      val p = joined.queryExecution.executedPlan.toString
      // matching 8-bucket layouts on the join key: the join AND the
      // downstream aggregation both reuse the bucketing — no exchange at all
      assert(p.contains("SortMergeJoin"), p.take(500))
      assert(!p.contains("Exchange"),
        "bucketed join should be shuffle-free end to end")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition (the skew backstop SCALE.md names)") {
    val s = spark
    import s.implicits._
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ).map(k => k -> s.conf.getOption(k)).toMap
    try {
      // shrink the skew thresholds so test-scale data triggers the planner
      // behavior that 100 TB hot keys would trigger at the defaults
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // 10% of the left side lands on key 7 → one hot shuffle partition
      val left = s.range(0, 200000).select(
        when(col("id") % 10 === 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = s.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = left.join(right, "k")
      // collect() drives THIS Dataset's queryExecution so the adaptive
      // plan finalizes (count() would plan a separate query)
      assert(j.collect().nonEmpty)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE OptimizeSkewedJoin did not fire:\n" + p.take(900))
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("q166: exact-cofactor PPI joins broadcast, never sort-merge; no window") {
    val p = plan("q166_ppi_glm")
    // the design (NT rows) and the adj/det row broadcast into the series
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "a bounded side degraded to SMJ")
    assert(!p.contains("Window"), "the per-voxel solve needs no window")
  }

  test("q201: serving joins the broadcast segmentation model; the corpus is scanned once") {
    val p = plan("q201_unigram_lm_segment")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // training state is checkpointed; the serve itself reads documents once
    val docScans = p.split("\n").filter(_.contains("documents.parquet"))
    assert(docScans.length == 1, docScans.mkString("\n"))
  }

  test("asofJoin: simultaneous right row counts (ties at equal ts)") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, "u", 100L)).toDF("event_id", "user_id", "ts")
    val right = Seq(("u", 100L, 100L), ("u", 90L, 90L))
      .toDF("user_id", "ts", "click_ts")
    val out = graft.timeseries.TimeOps
      .asofJoin(left, right, Seq("user_id"), "ts", Seq("click_ts"))
      .head()
    // at-or-before semantics: the simultaneous row (ts=100) wins
    assert(out.getAs[Long]("asof_click_ts") === 100L)
  }
}
