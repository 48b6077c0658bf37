package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.util.Snapshots

/** Structured-Streaming surface (SURVEY.md §2.10): the reference is batch
  * over an at-rest BIDS tree, but its `update/` drop-directory
  * (convert2BIDS.sh:8) is a file queue — the natural streaming story. These
  * operators are the streaming twins of the batch queries: identical
  * transform bodies over `readStream`, so correctness is established by
  * equivalence with the batch plan on the same files (tested with
  * Trigger.AvailableNow into a memory sink).
  *
  * Scale notes: file-source streaming at 100 TB means a partitioned drop
  * directory and `maxFilesPerTrigger` back-pressure; the tumbling-window
  * aggregate shuffles by (window, key) exactly like its batch twin, and the
  * watermark bounds state size to (lateness / window) × |keys| rows.
  */
object StreamOps {

  /** File-source stream over a directory of parquet event files. */
  def eventStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(dir)

  /** Tumbling-window per-type aggregation with a watermark — the streaming
    * twin of q19 (exact DECIMAL sums). `tsCol` must be a TimestampType
    * column; late rows beyond `lateness` are dropped deterministically.
    */
  def tumblingCounts(events: DataFrame, tsCol: String, window: String,
      lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window).as("w"),
        col("event_type"),
      )
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
      )
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact-dedup: drop duplicate keys with bounded state — rows
    * whose key was seen within the watermark horizon are suppressed
    * (training-data dedup for arriving shards; state size is bounded by
    * keys-per-lateness-window, the 100 TB-safe form of dropDuplicates). */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String],
      lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** The static side of [[streamingContamination]]: the eval corpus's
    * distinct k-gram hashes, collected to the driver — benchmark-sized by
    * definition (an eval set, not data), like a trained model's
    * parameters. */
  def evalGramSet(evalDocs: DataFrame, shingleK: Int): Seq[Long] = {
    import graft.functions.TextExprs
    evalDocs
      .select(explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
  }

  /** STREAMING decontamination: flag arriving documents sharing a
    * k-token-gram with the (static, driver-literal) eval gram set — the
    * streaming twin of DedupOps.contaminationFlags for ingest-time hygiene:
    * quarantine a contaminated shard the moment it lands instead of
    * re-sweeping the corpus. The whole operator is one STATELESS projection
    * (`shingle_hash_set` + `intersect_size` against the literal set):
    * append-mode, no watermark, no state store — each document's verdict
    * depends on that document alone, so it works identically over a stream
    * or a batch frame (spec-pinned equal to the batch operator). */
  def streamingContamination(docs: DataFrame, evalGrams: Seq[Long],
      shingleK: Int): DataFrame = {
    import graft.functions.TextExprs
    docs
      .select(col("doc_id"),
        TextExprs.intersect_size(
          TextExprs.shingle_hash_set(col("text"), shingleK),
          typedlit(evalGrams)).as("shared_grams"))
      .filter(col("shared_grams") > 0)
  }

  /** Freeze a unigram model for [[streamingQualityScore]]: the corpus's
    * (term → ln p quantized int64 ×1e9) map, exactly the relation q82's
    * batch operator joins — vocabulary-sized model state, like the eval
    * gram set above. */
  def unigramModel(corpus: DataFrame): Map[String, Long] = {
    // ONE corpus job: per-term counts and the grand total come out of the
    // same aggregate (sum-over-window of the partial counts would shuffle
    // twice; a driver-side sum over the vocabulary-sized collect is free)
    val perTerm = corpus
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cf"))
      .collect()
    val total = perTerm.iterator.map(_.getLong(1)).sum.toDouble
    perTerm.iterator
      .map(r => r.getString(0) ->
        math.round(math.log(r.getLong(1) / total) * 1e9))
      .toMap
  }

  /** Web-scale serving variant of [[unigramModel]]: the frozen model is
    * capped at the top-V terms by corpus frequency (deterministic
    * tie-break on the term), with probabilities still normalized by the
    * FULL corpus total — so a retained term's ln p is identical to the
    * exact model's, and truncated-tail tokens fall through to the
    * caller's OOV floor exactly like genuinely unseen ones. The driver
    * collect is V-bounded, never vocabulary-sized: at web scale the
    * vocabulary is 10⁸–10⁹ types and [[unigramModel]]'s exact collect is
    * the driver-memory wall; top-V runs as a TakeOrdered over the counts
    * relation (top-V per partition, merged). When V covers the
    * vocabulary the model is IDENTICAL to the exact one; when the cap
    * binds, every scored document's ppl moves only TOWARD the floor
    * penalty (a dropped term's true ln p ≥ any sane floor) — one-sided
    * drift, spec-pinned both ways. Exact alternative at the same shape:
    * the q88 Space-Saving sketch (ε-approximate counts, one summary). */
  def unigramModelCapped(corpus: DataFrame, topV: Int): Map[String, Long] = {
    val perTerm = corpus
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cf"))
      // two consumers (grand total + top-V) of the one corpus pass
      .localCheckpoint()
    val total = perTerm.agg(coalesce(sum("cf"), lit(0L)))
      .head().getLong(0).toDouble
    perTerm.orderBy(col("cf").desc, col("term").asc).limit(topV)
      .collect().iterator
      .map(r => r.getString(0) ->
        math.round(math.log(r.getLong(1) / total) * 1e9))
      .toMap
  }

  /** STREAMING quality scoring: per-document unigram perplexity under a
    * FROZEN model (the CCNet recipe — score arrivals against the
    * reference corpus's distribution, don't re-estimate it per batch).
    * One STATELESS projection: tokens map through the (term → ln p)
    * literal, unknown tokens take `oovLnpFp` (the floor penalty), the
    * int64 fold is exact. Append-mode, no watermark, no state store —
    * each document's score depends on that document plus the literal
    * model, so stream ≡ batch by construction (spec-pinned). */
  def streamingQualityScore(docs: DataFrame, model: Map[String, Long],
      oovLnpFp: Long): DataFrame = {
    val lnp = typedlit(model)
    val fps = transform(split(col("text"), " "),
      t => coalesce(element_at(lnp, t), lit(oovLnpFp)))
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      round(exp(-(aggregate(fps, lit(0L), (acc, x) => acc + x)
        .cast("double") / 1e9) /
        size(split(col("text"), " "))), 6).as("ppl"))
  }

  /** STREAMING training-set assembly — the stateless twin of q57 + q69
    * (deterministic hash split + stratified downsampling): both batch
    * operators are pure projections/filters of (salt, key, stratum), so
    * the SAME bodies run unchanged over `readStream` in append mode with
    * no watermark and no state store. A shard's split membership and
    * sampling fate are decided the moment it lands and can never be
    * revised by later data — the property that makes hash-keyed
    * assembly safe for INCREMENTAL corpora, where `df.sample`'s
    * partition-seeded RNG would re-draw on every re-plan.
    * StreamMultimodalSpec pins stream ≡ batch on the same files. */
  def streamingAssembly(docs: DataFrame, keyCol: String, strataCol: String,
      salt: String, perMill: Seq[(String, Int)],
      ratesPerMill: Map[String, Int], defaultPerMill: Int): DataFrame =
    graft.queries.Training.hashSplit(
      graft.queries.Training.stratifiedSample(
        docs, keyCol, strataCol, salt, ratesPerMill, defaultPerMill),
      keyCol, salt, perMill)

  /** Session windows per key with an inactivity gap (SURVEY.md §2.10
    * "per-subject completeness = session-window-like grouping"): sessions
    * close `gap` after their last event; works identically in batch and
    * streaming (watermark bounds state in the latter). */
  def sessionize(events: DataFrame, tsCol: String, keyCol: String,
      gap: String): DataFrame =
    events
      .groupBy(session_window(col(tsCol), gap).as("s"), col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
      )
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col(keyCol), col("n_events"), col("sum_value"))

  /** Per-key running moments carried across micro-batches by
    * flatMapGroupsWithState. */
  case class RunningMoments(n: Long, sum: Double, sumSq: Double)

  /** One flagged outlier event. */
  case class OutlierFlag(user_id: Long, event_id: Long, value: Double, zscore: Double)

  /** Input row shape for [[runningOutliers]]. */
  case class KeyedValue(user_id: Long, ts: Long, event_id: Long, value: Double)

  /** The shared per-group fold: rows in (ts, event_id) order, flag a row
    * whose value deviates more than `z` population-sd from the PRIOR
    * history's mean (warm-up `minHistory` rows first), then absorb it. */
  private[streaming] def foldGroup(
      st: RunningMoments, rows: Seq[KeyedValue], z: Double, minHistory: Long,
  ): (RunningMoments, Seq[OutlierFlag]) = {
    var s = st
    val out = Seq.newBuilder[OutlierFlag]
    rows.sortBy(r => (r.ts, r.event_id)).foreach { r =>
      if (s.n >= minHistory) {
        val mean = s.sum / s.n
        val variance = s.sumSq / s.n - mean * mean
        val sd = math.sqrt(math.max(variance, 0.0))
        if (sd > 0 && math.abs(r.value - mean) > z * sd)
          out += OutlierFlag(r.user_id, r.event_id, r.value,
            (r.value - mean) / sd)
      }
      s = RunningMoments(s.n + 1, s.sum + r.value, s.sumSq + r.value * r.value)
    }
    (s, out.result())
  }

  /** Custom-state streaming operator (SURVEY.md §2.10 / the
    * `KeyValueGroupedDataset.flatMapGroupsWithState` surface): per-user
    * RUNNING outlier flags. Unlike a windowed aggregate, the state (count /
    * sum / sum-of-squares per user) spans the whole stream lifetime across
    * micro-batches — not expressible with watermark-windowed built-ins.
    * State is 3 numbers per key: bounded by |keys|, the 100 TB-safe shape.
    * Determinism contract: rows are folded in (ts, event_id) order within
    * each batch, so results are reproducible given a fixed batch sequence
    * (the batch twin [[runningOutliersBatch]] is the one-batch case). */
  def runningOutliers(events: Dataset[KeyedValue], z: Double,
      minHistory: Long): Dataset[OutlierFlag] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunningMoments, OutlierFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[RunningMoments]) =>
          val st = state.getOption.getOrElse(RunningMoments(0L, 0.0, 0.0))
          val (next, flags) = foldGroup(st, rows.toSeq, z, minHistory)
          state.update(next)
          flags.iterator
      }
  }

  /** Batch twin: identical fold over each whole group (single batch). */
  def runningOutliersBatch(events: Dataset[KeyedValue], z: Double,
      minHistory: Long): Dataset[OutlierFlag] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroups { (_, rows) =>
        foldGroup(RunningMoments(0L, 0.0, 0.0), rows.toSeq, z, minHistory)
          ._2.iterator
      }
  }

  /** Input frame for [[streamingKeyframeGate]]: a decoded frame's 64-bit
    * perceptual hash (phash is map-only in the scan stage — only the
    * 8-byte fingerprint enters the stateful operator). */
  case class FrameIn(doc_id: Long, frame_idx: Long, ph: Long)

  /** One gated frame: the earliest prior near-twin (if any) and the keep
    * verdict. */
  case class FrameVerdict(doc_id: Long, frame_idx: Long,
      dup_of: Option[Long], kept: Boolean)

  /** The shared per-video fold (q186's greedy novel-vs-all-prior rule):
    * frames in frame_idx order against ALL previously seen frames of the
    * video — a suppressed frame still suppresses its own later
    * near-twins, so the state keeps every seen (frame_idx, ph), bounded
    * by frames-per-clip. */
  private def foldFrames(seen: Seq[(Long, Long)], frames: Seq[FrameIn],
      tau: Int): (Seq[(Long, Long)], Seq[FrameVerdict]) = {
    var st = seen
    val out = Seq.newBuilder[FrameVerdict]
    for (f <- frames.sortBy(_.frame_idx)) {
      val hits = st.collect { case (idx, h)
        if idx < f.frame_idx && java.lang.Long.bitCount(h ^ f.ph) <= tau => idx }
      val dup = if (hits.isEmpty) None else Some(hits.min)
      out += FrameVerdict(f.doc_id, f.frame_idx, dup, dup.isEmpty)
      st = st :+ ((f.frame_idx, f.ph))
    }
    (st, out.result())
  }

  /** STREAMING keyframe gate — q186's stateful twin on the
    * flatMapGroupsWithState surface: frames arrive per video in decode
    * order across micro-batches; each is admitted iff no prior frame of
    * the SAME video (any batch) is phash-near-identical. State spans the
    * stream lifetime (the running-outliers shape), bounded by
    * frames-per-clip per key. Determinism contract: frames fold in
    * frame_idx order within each batch; in-order arrival gives
    * stream ≡ batch exactly (spec-pinned incl. cross-batch suppression). */
  def streamingKeyframeGate(frames: Dataset[FrameIn],
      tau: Int): Dataset[FrameVerdict] = {
    import frames.sparkSession.implicits._
    frames
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Seq[(Long, Long)], FrameVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Seq[(Long, Long)]]) =>
          val st = state.getOption.getOrElse(Seq.empty)
          val (next, verdicts) = foldFrames(st, rows.toSeq, tau)
          state.update(next)
          verdicts.iterator
      }
  }

  /** Batch twin: identical fold over each whole video (single batch). */
  def keyframeGateBatch(frames: Dataset[FrameIn],
      tau: Int): Dataset[FrameVerdict] = {
    import frames.sparkSession.implicits._
    frames
      .groupByKey(_.doc_id)
      .flatMapGroups { (_, rows) =>
        foldFrames(Seq.empty, rows.toSeq, tau)._2.iterator
      }
  }

  /** Input row for [[streamingContextPack]]: a sized document on one
    * pack stream. */
  case class PackDoc(doc_id: Long, lang: String, tokens: Long)

  /** One packed document: which fixed-budget context window its first
    * token lands in, and where. */
  case class PackedDoc(doc_id: Long, lang: String, tokens: Long,
      pack_id: Long, pack_offset: Long)

  /** The shared per-stream fold: docs in doc_id order against the running
    * token cumsum; pack_id = ⌊cumsum/budget⌋ exactly as the batch
    * operator's `div` (both floor on non-negative longs). */
  private[streaming] def foldPack(startTokens: Long, rows: Seq[PackDoc],
      budget: Long): (Long, Seq[PackedDoc]) = {
    var s = startTokens
    val out = rows.sortBy(_.doc_id).map { r =>
      val p = PackedDoc(r.doc_id, r.lang, r.tokens, s / budget, s % budget)
      s += r.tokens
      p
    }
    (s, out)
  }

  /** Streaming twin of `RetrievalOps.contextPack`: ingest-time context
    * packing with the per-language running token count carried across
    * micro-batches by flatMapGroupsWithState — the production shape
    * (packing happens as documents ARRIVE; a batch job would re-scan).
    * State is ONE long per pack stream, bounded by |langs| forever.
    * Determinism contract (same as [[runningOutliers]]): documents
    * arrive in doc_id order across the batch sequence, each batch folds
    * in doc_id order — StreamMultimodalSpec pins stream ≡ batch. */
  def streamingContextPack(docs: Dataset[PackDoc],
      budget: Long): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.lang)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Long]) =>
          val (next, out) =
            foldPack(state.getOption.getOrElse(0L), rows.toSeq, budget)
          state.update(next)
          out.iterator
      }
  }

  /** One packed document on a SHARDED pack stream: same layout as
    * [[PackedDoc]] plus the shard the document was routed to; a pack is
    * addressed by (lang, shard, pack_id). */
  case class ShardPackedDoc(doc_id: Long, lang: String, shard: Long,
      tokens: Long, pack_id: Long, pack_offset: Long)

  /** Sharded streaming twin of `RetrievalOps.contextPack(_, _, numShards)`:
    * the pack-stream key is (lang, doc_id % numShards), so state is one
    * long per (lang, shard) and parallelism is |langs| × numShards — the
    * |langs|-bounded ceiling of [[streamingContextPack]] removed. Shard
    * routing is a pure row function, so the layout is identical however
    * arrivals are partitioned; StreamMultimodalSpec pins stream ≡ batch
    * at numShards > 1. */
  def streamingContextPackSharded(docs: Dataset[PackDoc], budget: Long,
      numShards: Int): Dataset[ShardPackedDoc] = {
    require(numShards > 0, "streamingContextPackSharded: numShards must be positive")
    import docs.sparkSession.implicits._
    docs
      // pmod, not Scala's sign-following % — the batch twin routes with
      // pmod(doc_id, numShards), and a negative doc_id must land in the
      // same shard on both paths for the stream ≡ batch pin to hold
      .groupByKey(r => (r.lang, ((r.doc_id % numShards) + numShards) % numShards))
      .flatMapGroupsWithState[Long, ShardPackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((_, shard), rows, state: GroupState[Long]) =>
          val (next, out) =
            foldPack(state.getOption.getOrElse(0L), rows.toSeq, budget)
          state.update(next)
          out.iterator.map(p => ShardPackedDoc(
            p.doc_id, p.lang, shard, p.tokens, p.pack_id, p.pack_offset))
      }
  }

  /** STREAMING standing-index maintenance — the probe→admit→append loop
    * as ONE continuous pipeline (the batch pieces are q90's
    * `probeBandIndex` and `appendToBandIndex`; this wires them into a
    * `foreachBatch` sink so ingest-time dedup admission runs as documents
    * ARRIVE): each micro-batch is judged against the standing index AS OF
    * the batch start (verdicts are materialized via localCheckpoint
    * BEFORE the append — the lazy probe plan must not observe its own
    * batch's append), then the admitted (keep = true) documents join the
    * index, and the verdicts land in `outPath` as appended parquet.
    *
    * Semantics: identical to running the batch probe→append loop over the
    * same batch sequence (spec-pinned over 3 micro-batches). Duplicates
    * WITHIN one micro-batch are both admitted — intra-batch dedup is
    * [[streamingDedup]]'s job upstream, exactly as in the batch pipeline.
    *
    * At-least-once caveat: foreachBatch may REPLAY a batch whose append
    * already succeeded. The index append is idempotent (anti-join against
    * the standing doc ids — `appendToBandIndex(idempotent = true)`), so
    * the standing state never double-inserts; the verdict parquet is an
    * append-only sink, so a replayed batch CAN land duplicate verdict
    * rows, and a replayed row's verdict is recomputed against an index
    * that already holds its batch's admissions (self-matches flip keep to
    * false). Downstream readers of `outPath` should dedup on doc_id
    * keeping the keep=true row — exactly-once would need a transactional
    * sink, which plain parquet is not.
    *
    * Scale shape: per batch, the flat standing-probe cost plus a
    * bucket-aligned batch-sized append; state lives in the bucketed index
    * tables, not the state store, so it survives restarts and is shared
    * with every batch consumer of the index. */
  def streamingStandingAdmission(docs: DataFrame, name: String,
      threshold: Double, outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      val verdicts = graft.dedup.DedupOps
        .probeBandIndex(s, batch, name, threshold)
        .localCheckpoint()
      val admitted = batch.join(
        verdicts.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      graft.dedup.DedupOps.appendToBandIndex(s, admitted, name, idempotent = true)
      verdicts.write.mode("append").parquet(outPath)
      ()
    }

  /** The VECTOR twin of [[streamingStandingAdmission]]: a stream of
    * (vec_id, embedding) arrivals probes the persisted standing vector
    * index (SimilarityOps.probeVecIndex — exact cosines against the
    * pinned coarse cells, bucket-pruned corpus scan), writes one verdict
    * row per arrival, and APPENDS the admitted vectors to the index
    * before the next batch — so batch N+1's probe sees batch N's
    * admissions, exactly like the sequential loop (spec-pinned).
    * Verdicts materialize BEFORE the append, so a batch never observes
    * itself. Intra-batch near-dups are upstream's job (the same contract
    * as the text loop).
    *
    * At-least-once caveat: same contract as
    * [[streamingStandingAdmission]] — the index append is idempotent
    * under replay (`appendToVecIndex(idempotent = true)`, a cell-pruned
    * anti-join on vec_id), the verdict parquet is not; replayed verdict
    * rows can duplicate and self-match, so readers dedup on vec_id
    * keeping keep=true.
    *
    * Scale shape: per batch, the flat standing-probe cost plus a
    * bucket-aligned batch-sized append; state lives in the bucketed index
    * tables, not the state store — restart-safe and shared with every
    * batch consumer of the index. */
  def streamingVecAdmission(vecs: DataFrame, name: String, nProbe: Int,
      threshold: Double, outPath: String): DataStreamWriter[Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      val verdicts = graft.similarity.SimilarityOps
        .probeVecIndex(s, batch, name, nProbe, threshold)
        .localCheckpoint()
      val admitted = batch.join(
        verdicts.filter(col("keep")).select("vec_id"), Seq("vec_id"), "left_semi")
      graft.similarity.SimilarityOps.appendToVecIndex(s, admitted, name,
        idempotent = true)
      verdicts.write.mode("append").parquet(outPath)
      ()
    }

  /** The MEDIA twin of [[streamingStandingAdmission]], completing the
    * modality symmetry (text q90, vectors q110, media q119): a stream of
    * (doc_id, payload) arrivals probes the persisted standing perceptual
    * index (PhashOps.probePhashIndex — banded candidates off the
    * (r, bv)-bucketed relation, exact Hamming verification inline), writes
    * one verdict row per arrival, and APPENDS the admitted payloads'
    * fingerprints to the index before the next batch — so batch N+1's
    * probe sees batch N's admissions, exactly like the sequential loop
    * (spec-pinned, PhashIndexSpec). Verdicts materialize BEFORE the
    * append, so a batch never observes itself. Intra-batch near-dups are
    * upstream's job (the same contract as the text and vector loops).
    *
    * At-least-once caveat: identical to the siblings — the index append
    * is idempotent under replay (`appendToPhashIndex(idempotent = true)`),
    * the verdict parquet is not; readers dedup on doc_id keeping
    * keep=true.
    *
    * Scale shape: per batch, a batch-sized fingerprint pass (payloads
    * never leave the scan stage) + the flat standing probe + a
    * bucket-aligned 12-byte-per-row append; state lives in the bucketed
    * index tables, not the state store — restart-safe and shared with
    * every batch consumer of the index. */
  def streamingMediaAdmission(media: DataFrame, name: String, tau: Int,
      outPath: String): DataStreamWriter[Row] =
    media.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      val verdicts = graft.multimodal.PhashOps
        .probePhashIndex(s, batch, name, tau)
        .localCheckpoint()
      val admitted = batch.join(
        verdicts.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      graft.multimodal.PhashOps.appendToPhashIndex(s, admitted, name,
        idempotent = true)
      verdicts.write.mode("append").parquet(outPath)
      ()
    }

  /** The BOILERPLATE twin of [[streamingStandingAdmission]]: arriving
    * docs are stripped against the standing segment-frequency store
    * (CurationOps.probeSegFreqStrip — standing distinct-doc counts plus
    * the batch's own, so a segment crossing min_docs WITHIN a batch is
    * stripped from that batch), one stripped row per arrival is written,
    * and the batch's ORIGINAL text appends to the store before the next
    * batch — admission-time semantics: each doc's verdict equals the
    * batch run over everything admitted up to and including its own
    * batch, restricted to that batch (spec-pinned), and already-admitted
    * docs are never re-stripped.
    *
    * At-least-once discipline (all four score-then-admit loops): score
    * only the GUARD-SURVIVING docs, write the sink FIRST to a
    * batchId-KEYED path (overwrite), and append to the store LAST — and
    * skip both when the guard leaves nothing. The crash matrix then
    * closes: die before the sink write → replay recomputes everything;
    * die between sink and store append → the replay's guard still
    * passes, the store is UNCHANGED so the re-score is bit-identical,
    * and the overwrite rewrites the same rows; die after the store
    * append → the replay's guard empties and the skip leaves the
    * already-committed sink intact (an unconditional overwrite here
    * would ERASE the batch's verdicts — the reason for the skip).
    * Residual window: a redelivery under a DIFFERENT batchId after a
    * sink-committed/store-lost crash would double-write — Structured
    * Streaming's checkpointed restart redelivers the SAME id, so that
    * needs a source replaying outside the checkpoint contract.
    *
    * Scale shape: per batch, batch-side segmentation + a broadcast
    * batch-hash probe of the h-bucketed store (store streams with no
    * exchange) + a bucket-aligned batch-sized append; state lives in the
    * bucketed store tables — restart-safe, shared with batch readers. */
  def streamingBoilerplateAdmission(docs: DataFrame, name: String,
      outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      boilerplateAdmitBatch(batch, name, outPath, batchId)
    }

  /** One micro-batch of [[streamingBoilerplateAdmission]] — public so
    * specs can redeliver the SAME batchId and pin the crash matrix.
    *
    * SINK LAYOUT CONTRACT (all the score-then-admit loops since r17):
    * verdicts land in batchId-KEYED subdirectories `outPath/batch=N`,
    * not as a flat append at `outPath`. A reader of the whole verdict
    * history reads `outPath` (Spark/DuckDB infer `batch` as a partition
    * column) or globs `outPath/batch=*`; a reader that previously
    * consumed the flat layout must account for the extra `batch`
    * column. The keying is what makes an at-least-once redelivery an
    * idempotent overwrite instead of a duplicate append. */
  def boilerplateAdmitBatch(batch: DataFrame, name: String,
      outPath: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val fresh = batch.join(s.table(s"${name}_docs"), Seq("doc_id"),
      "left_anti").localCheckpoint()
    if (!fresh.isEmpty) {
      graft.text.CurationOps.probeSegFreqStrip(s, fresh, name)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      graft.text.CurationOps.appendToSegFreqStore(s, fresh, name)
    }
    ()
  }

  /** STREAMING DSIR admission — the score-then-admit loop over the
    * standing importance model (q143's state): each arriving batch is
    * scored against the model as it stood when the batch arrived, then
    * its bucket-count delta is admitted (idempotent via the doc guard —
    * counts are ADDITIVE, so a replayed unguarded append would bias the
    * model, not just waste space). Later batches are scored by a model
    * that has absorbed earlier ones — spec-pinned ≡ the sequential
    * probe→append loop, including a vocabulary whose ratio flips between
    * batches. */
  def streamingDsirAdmission(docs: DataFrame,
      isTarget: org.apache.spark.sql.Column, name: String,
      outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      dsirAdmitBatch(batch, isTarget, name, outPath, batchId)
    }

  /** One micro-batch of [[streamingDsirAdmission]] — the
    * streamingBoilerplateAdmission crash matrix (sink-first batchId-keyed
    * overwrite of guard-surviving docs, skip on empty). */
  def dsirAdmitBatch(batch: DataFrame,
      isTarget: org.apache.spark.sql.Column, name: String, outPath: String,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    val fresh = batch.join(s.table(s"${name}_docs"), Seq("doc_id"),
      "left_anti").localCheckpoint()
    if (!fresh.isEmpty) {
      graft.text.CurationOps.probeDsirScore(s, fresh, name)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      graft.text.CurationOps.appendToDsirStore(s, fresh, isTarget, name)
    }
    ()
  }

  /** STREAMING bigram-LM admission — q198's foreachBatch twin (the
    * score-then-admit loop over the standing KN model): each arriving
    * batch is scored against the CAPPED model as it stood when the batch
    * arrived, then its bigram/unigram count deltas are admitted
    * (idempotent via the doc guard — counts are additive, an unguarded
    * replay would bias the model). Later batches see a model that has
    * absorbed earlier ones — spec-pinned ≡ the sequential serve→append
    * loop, including a bigram whose capped-model membership flips
    * between batches. */
  def streamingBigramAdmission(docs: DataFrame, name: String, topV: Int,
      outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      bigramAdmitBatch(batch, name, topV, outPath, batchId)
    }

  /** One micro-batch of [[streamingBigramAdmission]] — the
    * streamingBoilerplateAdmission crash matrix (sink-first batchId-keyed
    * overwrite of guard-surviving docs, skip on empty); public so
    * BigramStoreSpec can pin the sink-committed/store-lost window. */
  def bigramAdmitBatch(batch: DataFrame, name: String, topV: Int,
      outPath: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val fresh = batch.join(s.table(s"${name}_docs"), Seq("doc_id"),
      "left_anti").localCheckpoint()
    if (!fresh.isEmpty) {
      graft.text.BigramStore.serveKn(s, fresh, name, topV)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      graft.text.BigramStore.append(s, fresh, name)
    }
    ()
  }

  /** STREAMING audio admission — q210's foreachBatch twin over the
    * standing audio index (AudioOps.buildAudioIndex): each arriving
    * payload batch is judged against the corpus AS IT STANDS (min
    * near-dup corpus id at Hamming ≤ tau), then its band rows are
    * admitted. Guard-surviving docs only — the streamingBigramAdmission
    * replay discipline: a redelivered batch neither re-probes against
    * the now-grown index nor appends duplicate verdicts. */
  def streamingAudioAdmission(media: DataFrame, name: String, tau: Int,
      outPath: String): DataStreamWriter[Row] =
    media.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      audioAdmitBatch(batch, name, tau, outPath, batchId)
    }

  /** One micro-batch of [[streamingAudioAdmission]] — the
    * streamingBoilerplateAdmission crash matrix (sink-first batchId-keyed
    * overwrite of guard-surviving docs, skip on empty). The append runs
    * idempotent so a crash BETWEEN the index's two table appends cannot
    * double the band rows on replay; public so AudioFingerprintSpec can
    * pin that half-appended window. */
  def audioAdmitBatch(batch: DataFrame, name: String, tau: Int,
      outPath: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    s.catalog.refreshTable(s"${name}_adocs")
    val fresh = batch.join(
      s.table(s"${name}_adocs").select(
        org.apache.spark.sql.functions.col("corp_id").as("doc_id")),
      Seq("doc_id"), "left_anti").localCheckpoint()
    if (!fresh.isEmpty) {
      graft.multimodal.AudioOps.probeAudioIndex(s, fresh, name, tau)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      graft.multimodal.AudioOps.appendToAudioIndex(s, fresh, name,
        idempotent = true)
    }
    ()
  }

  /** STREAMING tokenizer serve — q207's foreachBatch twin: each arriving
    * doc batch is segmented (Viterbi + OOV char fallback) against the
    * FROZEN standing tokenizer model and its fertility row emitted. The
    * model is trained once (TokenizerStore.build) and never updated by
    * this loop, so the verdict is a PURE FUNCTION of the batch — replays
    * cannot drift. The sink is therefore batchId-KEYED: an at-least-once
    * replay of batch k overwrites outPath/batch=k with identical rows
    * instead of appending duplicates (the r16 ADVICE sink discipline for
    * stateless scorers; spec-pinned ≡ the batch serve incl. a replay). */
  def streamingTokenizerServe(docs: DataFrame, name: String,
      outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      tokenizerServeBatch(batch, name, outPath, batchId)
    }

  /** One micro-batch of [[streamingTokenizerServe]] — public so the spec
    * can redeliver the SAME batchId and pin the overwrite. */
  def tokenizerServeBatch(batch: DataFrame, name: String, outPath: String,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    val best = graft.text.UnigramLmOps.viterbiBest(
      graft.text.UnigramLmOps.wordFreqs(batch).select("w"),
      graft.text.TokenizerStore.vocab(s, name).select("piece", "lnp_fp"))
      .select(org.apache.spark.sql.functions.col("w"),
        org.apache.spark.sql.functions.col("np"))
    graft.text.UnigramLmOps.fertility(batch, best)
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    ()
  }

  /** STREAMING second-level admission — q156's foreachBatch twin: each
    * arriving subject-batch of first-level betas is admitted into the
    * standing beta store (subject-bounded facts, idempotent via the
    * subject guard + probe-side max-dedup), then the FULL inference
    * chain (second level + sign-flip null + BH/maxT verdicts) re-probes
    * the store AS IT STANDS, including this batch — the group analysis
    * updates as subjects come off the scanner. The verdict relation is a
    * complete snapshot, so the sink OVERWRITES: after any batch,
    * `outPath` holds exactly the batch-probe verdict at that moment
    * (spec-pinned, including a cross-batch admission that changes an
    * earlier hypothesis's p). */
  def streamingBetaAdmission(betas: DataFrame, name: String,
      outPath: String): DataStreamWriter[Row] =
    betas.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      graft.glm.BetaStore.appendSubjects(s, batch, name, idempotent = true)
      graft.queries.Glm.inferenceChainCore(s,
        graft.glm.BetaStore.betaRelation(s, name))
        .write.mode("overwrite").parquet(outPath)
      ()
    }

  /** STREAMING gallery enrollment — q190's foreachBatch twin: each
    * arriving batch of reference-scan edge vectors enrolls into the
    * standing gallery (scan-bounded facts, idempotent via the scan guard
    * + probe-side max-dedup), then the identification matrix for the
    * given probe scans re-probes the gallery AS IT STANDS — the match
    * verdicts update as reference scans are enrolled. The matrix is a
    * complete snapshot, so the sink OVERWRITES (the
    * streamingBetaAdmission contract). */
  def streamingGalleryEnrollment(vecs: DataFrame, name: String,
      probe: DataFrame, outPath: String): DataStreamWriter[Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      graft.image.GalleryStore.enrollScans(s, batch, name, idempotent = true)
      graft.queries.DesignImage.fingerprintMatch(probe,
        graft.image.GalleryStore.galleryRelation(s, name))
        .write.mode("overwrite").parquet(outPath)
      ()
    }

  /** STREAMING decontamination probe — arriving training docs checked
    * against the standing eval-gram store (q138's state) before
    * admission to the training corpus: the hygiene gate of a
    * continuously-ingesting pipeline. The probe is stateless (the store
    * is maintained by benchmark ADMISSION — `appendToEvalGramStore` —
    * not by this loop), so each micro-batch's verdict equals the batch
    * probe at that moment; spec-pinned including a doc whose only
    * contamination is against a benchmark admitted BETWEEN batches.
    * Only contaminated docs are emitted (shared_grams >= 1), mirroring
    * probeContamination's inner-join semantics. */
  def streamingContaminationProbe(docs: DataFrame, name: String,
      outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.dedup.DedupOps
        .probeContamination(batch.sparkSession, batch, name)
        .write.mode("append").parquet(outPath)
      ()
    }

  /** STREAMING incremental cluster maintenance — q107's `foreachBatch`
    * twin, closing the standing-index loop family (text admission, vector
    * admission, and now LABEL maintenance — the nightly-ingest shape the
    * reference's `update/` drop directory implies, convert2BIDS.sh:8).
    * Standing state is TWO stores shared with batch consumers: the band
    * index (`name_*` tables) and the label relation at `labelsPath`
    * (doc_id, cluster). Per micro-batch:
    *
    *   1. probe: the batch's increment↔corpus pairs come off the standing
    *      band index, its internal pairs off a batch-sized MinHash
    *      self-join (both inside DedupOps.incrementalClusters);
    *   2. delta CC: connected components on the batch-plus-touched-
    *      representatives graph only — the corpus is never re-paired;
    *   3. remap: ONE broadcast join relabels only touched components;
    *   4. append: the batch joins the band index
    *      (`appendToBandIndex(idempotent = true)`) and the label store is
    *      replaced via write-to-sibling + rename (below), so batch N+1
    *      probes AND relabels against everything batch N admitted.
    *
    * Spec-pinned (StreamClusterSpec): 3 micro-batches ≡ the sequential
    * batch loop ≡ one dedupClusters re-run over the union corpus,
    * including a batch that MERGES two standing clusters formed in
    * different earlier batches.
    *
    * At-least-once caveat: the label overwrite is idempotent by
    * construction — a replayed batch's docs are filtered out against the
    * standing labels first (they were already absorbed), so the replay
    * reduces to remapping along already-applied merges (a no-op) and an
    * empty index append.
    *
    * Scale shape: per batch, flat probe cost + batch² LSH + CC on a
    * batch-sized graph + one broadcast remap (ProbeIncClusters evidence);
    * the label store rewrite is O(corpus) I/O per batch — at 100 TB keep
    * labels in a format with merge-on-read upserts or partition the
    * relabel by touched cluster; the parquet sibling-swap here is the
    * smallest faithful stand-in for that sink.
    *
    * Crash safety of the swap: the merged labels are FULLY written to a
    * `.next` sibling before the live directory is touched, then two
    * renames (live → `.bak`, `.next` → live) and a `.bak` delete. A crash
    * mid-write leaves the live store intact (the stale `.next` is cleared
    * at the next batch start); a crash between the renames leaves the
    * live path MISSING — a loud read failure with both complete copies
    * (`.bak`, `.next`) on disk for recovery — never a silently-accepted
    * partial directory, which is what a plain overwrite (delete then
    * rewrite in place) risks. True no-window atomicity needs a pointer
    * file or a table format with atomic commit; on a 100 TB deployment
    * use the latter. */
  def streamingIncrementalClusters(docs: DataFrame, name: String,
      threshold: Double, labelsPath: String, outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val s = batch0.sparkSession
      val standing = Snapshots.parquet(s, labelsPath).select("doc_id", "cluster")
      // replay guard: docs already labeled were absorbed by a prior
      // (successful) run of this batch — process only the remainder
      val batch = batch0.join(standing, Seq("doc_id"), "left_anti")
      val updated = graft.dedup.DedupOps
        .incrementalClusters(s, standing, batch, name, threshold)
        .localCheckpoint() // sever lineage: next writes replace its inputs
      graft.dedup.DedupOps.appendToBandIndex(s, batch, name, idempotent = true)
      // batch's plan reads labelsPath (through the anti-join) — every
      // consumer of it must run BEFORE the label store is replaced
      updated.join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(outPath)
      val live = new org.apache.hadoop.fs.Path(labelsPath)
      val next = new org.apache.hadoop.fs.Path(labelsPath + ".next")
      val bak = new org.apache.hadoop.fs.Path(labelsPath + ".bak")
      val fs = live.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(next, true)
      fs.delete(bak, true)
      updated.select("doc_id", "cluster").write.parquet(next.toString)
      fs.rename(live, bak)
      fs.rename(next, live)
      fs.delete(bak, true)
      ()
    }

  /** The MEDIA twin of [[streamingIncrementalClusters]], completing the
    * cluster-maintenance symmetry (text q107, media q121): standing state
    * is the perceptual band index (`name_p*` tables) and the label
    * relation at `labelsPath`; per micro-batch the arrivals' new edges
    * (standing-index probe + batch-internal pairs) update labels via
    * delta-CC + one broadcast remap (PhashOps.incrementalPhashClusters),
    * the batch's fingerprints join the index
    * (`appendToPhashIndex(idempotent = true)`), and the label store is
    * replaced with the same sibling-write + rename swap (crash semantics
    * documented there). Spec-pinned (PhashIndexSpec): 3 micro-batches ≡
    * the sequential batch loop ≡ one re-clustering of the union corpus,
    * including a batch that MERGES two standing clusters formed in
    * different earlier batches. Replay guard: docs already labeled were
    * absorbed by a prior successful run of this batch and are filtered
    * out first. */
  def streamingMediaClusters(media: DataFrame, name: String, tau: Int,
      labelsPath: String, outPath: String): DataStreamWriter[Row] =
    media.writeStream.foreachBatch { (batch0: DataFrame, _: Long) =>
      val s = batch0.sparkSession
      val standing = Snapshots.parquet(s, labelsPath).select("doc_id", "cluster")
      val batch = batch0.join(standing, Seq("doc_id"), "left_anti")
      val updated = graft.multimodal.PhashOps
        .incrementalPhashClusters(s, standing, batch, name, tau)
        .localCheckpoint() // sever lineage: next writes replace its inputs
      graft.multimodal.PhashOps.appendToPhashIndex(s, batch, name,
        idempotent = true)
      updated.join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(outPath)
      val live = new org.apache.hadoop.fs.Path(labelsPath)
      val next = new org.apache.hadoop.fs.Path(labelsPath + ".next")
      val bak = new org.apache.hadoop.fs.Path(labelsPath + ".bak")
      val fs = live.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(next, true)
      fs.delete(bak, true)
      updated.select("doc_id", "cluster").write.parquet(next.toString)
      fs.rename(live, bak)
      fs.rename(next, live)
      fs.delete(bak, true)
      ()
    }

  /** Streaming twin of the q176 standing datacard: each micro-batch of
    * arriving (train-only) documents is admitted into ALL the datacard's
    * standing state — band index + cluster labels (the
    * [[streamingIncrementalClusters]] body), additive scalars (doc /
    * token / quality-fixed-point / contamination counts via a probe of
    * the standing eval-gram store), and |langs|-bounded lang counts —
    * and the full 8-metric datacard is appended to `outPath` stamped
    * with the batch id: the card is CURRENT after every admission, at
    * increment cost. Metric assembly is the shared
    * `TextDedup.datacardFromState`, so rows are bit-identical to
    * q175/q176 on the same state. Replay guard + sibling-swap label
    * store as in the cluster twin; scalars/langs are rewritten through
    * the same `.next`/`.bak` swap (tiny relations, same crash
    * semantics). */
  def streamingDatacardAdmission(docs: DataFrame, idxName: String,
      gramName: String, statePath: String, outPath: String,
      threshold: Double, stopwords: Seq[String]): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch0: DataFrame, batchId: Long) =>
      val s = batch0.sparkSession
      val labelsPath = s"$statePath/labels"
      val scalarsPath = s"$statePath/scalars"
      val langsPath = s"$statePath/langs"
      def swapInto(path: String)(write: String => Unit): Unit = {
        val live = new org.apache.hadoop.fs.Path(path)
        val next = new org.apache.hadoop.fs.Path(path + ".next")
        val bak = new org.apache.hadoop.fs.Path(path + ".bak")
        val fs = live.getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(next, true); fs.delete(bak, true)
        write(next.toString)
        fs.rename(live, bak); fs.rename(next, live); fs.delete(bak, true)
      }
      val standing = Snapshots.parquet(s, labelsPath).select("doc_id", "cluster")
      val batch = batch0.join(standing, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val updated = graft.dedup.DedupOps
        .incrementalClusters(s, standing, batch, idxName, threshold)
        .localCheckpoint()
      graft.dedup.DedupOps.appendToBandIndex(s, batch, idxName,
        idempotent = true)
      // additive scalar fold (COALESCE: an empty/replayed batch adds 0)
      val merged = Snapshots.parquet(s, scalarsPath)
        .crossJoin(graft.text.TextOps.qualityStats(batch, stopwords)
          .agg(count(lit(1)).as("b_docs"),
            sum(col("n_tokens")).as("b_tokens"),
            sum(expr("CAST(round(stopword_ratio * 1e6, 0) AS BIGINT)")).as("b_sfp")))
        .crossJoin(graft.dedup.DedupOps.probeContamination(s, batch, gramName)
          .agg(count(lit(1)).as("b_contam")))
        .selectExpr(
          "n_docs + b_docs AS n_docs",
          "n_tokens + COALESCE(b_tokens, 0) AS n_tokens",
          "sfp + COALESCE(b_sfp, 0) AS sfp",
          "n_train + b_docs AS n_train",
          "n_contam + b_contam AS n_contam")
        .localCheckpoint()
      val lc = Snapshots.parquet(s, langsPath)
        .unionByName(batch.groupBy("lang").agg(count(lit(1)).as("c")))
        .groupBy("lang").agg(sum(col("c")).as("c"))
        .localCheckpoint()
      val nc = updated.agg(countDistinct(col("cluster")).as("nc"))
      graft.queries.TextDedup.datacardFromState(merged, lc, nc)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outPath)
      swapInto(labelsPath)(updated.select("doc_id", "cluster").write.parquet(_))
      swapInto(scalarsPath)(merged.write.parquet(_))
      swapInto(langsPath)(lc.write.parquet(_))
      ()
    }

  /** Drain an AvailableNow stream into an in-memory table and return its
    * final contents — the deterministic test harness for streaming ops. */
  def runToMemory(spark: SparkSession, writer: DataStreamWriter[Row],
      name: String): DataFrame = {
    val q = writer
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** STREAMING PII scrub and intra-document dedup — stateless twins of
    * q129/q130: both batch bodies are pure projections (zero exchanges, no
    * state store), so the SAME code runs unchanged over `readStream` in
    * append mode — the frozen-pattern serve shape of
    * [[streamingQualityScore]]. A document's redactions and within-doc
    * verdict are decided the moment it lands and can never be revised by
    * later data, which is what makes admission-time scrubbing safe for
    * incremental corpora. StreamMultimodalSpec pins stream ≡ batch. */
  def streamingScrub(docs: DataFrame,
      patterns: Seq[(String, String, String)]): DataFrame =
    graft.text.CurationOps.piiScrub(docs, patterns)

  /** See [[streamingScrub]]. */
  def streamingIntraDedup(docs: DataFrame, segTokens: Int): DataFrame =
    graft.text.CurationOps.intraDocDedup(docs, segTokens)

  /** STREAMING external-tool stage — q131's foreachBatch twin: RDD.pipe
    * has no streaming-plan form, so each micro-batch drops to the batch
    * operator (one subprocess per batch partition) and appends the piped
    * rows to `outPath` — the same escape hatch every RDD-level loop in
    * this file uses. At-least-once: a replayed batch re-pipes and
    * re-appends its own rows; a sink needing exactly-once dedupes on the
    * row key downstream (stated, not hidden). */
  def streamingExternalStage(docs: DataFrame, cmd: Seq[String],
      outSchema: org.apache.spark.sql.types.StructType,
      outPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.util.ExternalStage.pipeTsv(batch, cmd, outSchema)
        .write.mode("append").parquet(outPath)
      ()
    }

  /** STREAMING retention — q219's foreachBatch twin: each arriving
    * event batch's (user, day) activity appends to the standing
    * `name_udays` table, then the FULL cohort matrix recomputes and
    * OVERWRITES outPath (the streamingBetaAdmission snapshot
    * discipline: after any batch the sink holds exactly the panel over
    * everything admitted so far). Unlike the score-then-admit loops
    * this needs NO replay guard at all: the panel's own (user, day)
    * DISTINCT absorbs duplicate activity rows, so an at-least-once
    * redelivery appends harmless duplicates and the snapshot overwrite
    * converges from every crash window by construction. */
  def streamingRetention(events: DataFrame, name: String, location: String,
      outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      retentionBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingRetention]] — public for the spec.
    * The activity table is EXTERNAL (explicit location, the
    * buildAudioIndex discipline): a managed table's warehouse directory
    * outlives a dropped catalog entry across JVM sessions and blocks
    * re-creation.
    *
    * Replay guard (r17 ADVICE): the append is (user_id, day)-grain
    * anti-joined against the standing table (after a batch-side
    * DISTINCT), so an at-least-once redelivery appends NOTHING instead
    * of harmless-but-unbounded duplicate activity rows — correctness
    * never depended on it (the panel's own DISTINCT absorbs dups) but
    * the grain table now stays bounded by true distinct user-days,
    * keeping the per-batch full-panel recompute from inflating over a
    * long redelivery-prone run. */
  def retentionBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) { // an idle tick must not recompute the panel
      // normalizeTsNanos: the stream accepts every ts vintage the batch
      // events() loader does; tsNanosDay keeps the grain arithmetic at
      // ONE site with the batch queries
      val act = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day")
        .distinct()
      val tbl = s"${name}_udays"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        act.join(s.table(tbl), Seq("user_id", "day"), "left_anti")
      } else act).localCheckpoint() // sever lineage: the write reads tbl
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/udays")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      graft.queries.TimeSeries.retentionCore(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING active users — q221's foreachBatch twin on the
    * [[retentionBatch]] standing-grain-table pattern: each arriving
    * event batch's distinct (user, day) activity is admitted into the
    * standing `name_udays` table behind the same (user_id, day)
    * anti-join replay guard, then the FULL DAU/WAU/MAU panel recomputes
    * and OVERWRITES `outPath` (the snapshot discipline: after any batch
    * the sink holds exactly the panel over everything admitted so far —
    * spec-pinned ≡ the batch panel, including after a redelivery).
    * Scale shape: the grain table is distinct-user-days-bounded; the
    * recompute is the batch operator's own (one expansion ≤ 30× the
    * grain relation) — at production cadence keep the per-day distinct
    * sets as mergeable sketches instead (q224 is that scale twin). */
  def streamingActiveUsers(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      activeUsersBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingActiveUsers]] — public for the spec. */
  def activeUsersBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit =
    udaysRecompute(batch, name, location, outPath,
      graft.queries.TimeSeries.activeUsersCore)

  /** STREAMING power-user curve — q254's foreachBatch twin. IDENTICAL
    * state to [[activeUsersBatch]] (the distinct (user_id, day)
    * relation — a SET, merged by the anti-join union, so redelivery is
    * idempotent by algebra; the trailing-window slice and histogram
    * are stateless recomputes, and the calendar end moving with a new
    * batch re-slices EXISTING days — which only a full day-set state
    * supports). */
  def streamingPowerCurve(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      powerCurveBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingPowerCurve]] — public for the
    * spec. */
  def powerCurveBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit =
    udaysRecompute(batch, name, location, outPath,
      graft.queries.TimeSeries.powerCurveCore)

  /** STREAMING new-vs-returning split — q255's foreachBatch twin on
    * the same day-set state ([[activeUsersBatch]]'s grain): a user's
    * first-ever day is MIN over ALL admitted days, so a late backfill
    * day can re-label a user's existing "new" day — only the full
    * day-set state can retract that. */
  def streamingNewReturning(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      newReturningBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingNewReturning]] — public for the
    * spec. */
  def newReturningBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit =
    udaysRecompute(batch, name, location, outPath,
      graft.queries.TimeSeries.newReturningCore)

  /** The shared admit-then-recompute loop over the `_udays` day-set
    * state (the [[activeUsersBatch]] pattern, factored for its q254/
    * q255 siblings). */
  private def udaysRecompute(batch: DataFrame, name: String,
      location: String, outPath: String,
      recompute: DataFrame => DataFrame): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      val act = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day")
        .distinct()
      val tbl = s"${name}_udays"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        act.join(s.table(tbl), Seq("user_id", "day"), "left_anti")
      } else act).localCheckpoint()
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/udays")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      recompute(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING sketched active users — q224's foreachBatch twin and the
    * production shape its scale note promises: ONE bottom-k KMV sketch
    * per calendar day maintained as standing state, with the trailing
    * DAU/WAU/MAU windows answered by MERGING day sketches. Per batch,
    * the arrivals' per-day bottom-k hash sets MERGE into the standing
    * `name_kmv`(day, hs) table (sorted-array union, truncated to k) —
    * and because a KMV sketch is a SET, the merge is idempotent and
    * commutative: an at-least-once redelivery merges hashes that are
    * already there, so this loop needs NO replay guard AT ALL, by
    * algebra rather than bookkeeping. The panel recompute then
    * estimates each (day, window) from the union of its day sketches
    * and OVERWRITES `outPath`.
    *
    * EXACT twin equality (spec-pinned): the k smallest of a union of
    * per-day bottom-k sets equal the k smallest of the union of the
    * full per-day sets (any hash among the union's k smallest is among
    * its own day's k smallest), so the streamed estimates are
    * BIT-IDENTICAL to q224's batch estimates — mergeability is what
    * the exact panel fundamentally lacks.
    *
    * Scale shape: state is days × k longs; the per-batch merge is a
    * days-bounded full-outer join swapped in atomically
    * (BucketedStores sibling discipline); the panel is days·30·k
    * rows end to end. The batch-side per-day bottom-k here rides
    * collect_set + sort (batch-DAU-bounded per day) — at 10⁸-DAU
    * batches swap in a sketch-valued TypedImperativeAggregate emitting
    * the k-array (the KmvDistinct buffer, surfaced). */
  def streamingActiveUsersKmv(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      activeUsersKmvBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingActiveUsersKmv]] — public for the
    * spec. */
  def activeUsersKmvBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val k = graft.queries.TimeSeries.kmvK
    // The sketch store is NOT rebuildable from a corpus (prior days'
    // hashes exist nowhere else): repair a crash-interrupted swap BEFORE
    // the tableExists probe, or the DROP→RENAME window reads as "first
    // touch" and silently recreates the store from this one batch.
    graft.util.BucketedStores.recoverSwap(s, s"${name}_kmv")
    if (!batch.isEmpty) {
      val bd = graft.queries.TimeSeries.withKmvHash(
        graft.util.Tables.normalizeTsNanos(batch)
          .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day"))
        .groupBy("day").agg(collect_set("h").as("hs0"))
        .selectExpr("day", s"slice(array_sort(hs0), 1, $k) AS hs")
      val tbl = s"${name}_kmv"
      if (!s.catalog.tableExists(tbl)) {
        bd.write.mode("overwrite").format("parquet")
          .option("path", s"$location/kmv").saveAsTable(tbl)
      } else {
        s.catalog.refreshTable(tbl)
        val merged = s.table(tbl).selectExpr("day", "hs AS hs_old")
          .join(bd.selectExpr("day", "hs AS hs_new"), Seq("day"), "full")
          .selectExpr("day",
            s"""slice(array_sort(array_distinct(concat(
               |  coalesce(hs_old, array()), coalesce(hs_new, array())))),
               |  1, $k) AS hs""".stripMargin)
          .localCheckpoint() // the swap drops the table it derives from
        graft.util.BucketedStores.swapContents(s, tbl, merged)
        s.catalog.refreshTable(tbl)
      }
      // panel: estimate each (day, window) from the merged day sketches
      val sk = s.table(tbl).localCheckpoint()
      val cal = sk.agg(min("day").as("d0"), max("day").as("d1"))
        .localCheckpoint()
      val spanH = sk.selectExpr("day", "explode(hs) AS h")
        .crossJoin(broadcast(cal))
        .selectExpr("day", "h",
          s"explode(sequence(day, least(day + ${graft.queries.TimeSeries.mauDays - 1}, d1))) AS t_day")
        .selectExpr("t_day", "t_day - day AS age", "h")
        .localCheckpoint() // days·30·k rows; read by all 3 windows
      val calendar = cal.selectExpr("explode(sequence(d0, d1)) AS t_day")
      def est(win: Long, nm: String) = spanH
        .filter(col("age") < win)
        .select("t_day", "h").distinct()
        .groupBy("t_day").agg(sort_array(collect_list("h")).as("sh"))
        .selectExpr("t_day", s"${graft.queries.TimeSeries.kmvEstStr("sh")} AS $nm")
      calendar
        .join(est(graft.queries.TimeSeries.mauDays, "mau_est"), Seq("t_day"), "left")
        .join(est(7L, "wau_est"), Seq("t_day"), "left")
        .join(est(1L, "dau_est"), Seq("t_day"), "left")
        .na.fill(0L, Seq("dau_est", "wau_est", "mau_est"))
        .selectExpr("t_day AS day", "dau_est", "wau_est", "mau_est")
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING sketched retention — q242's foreachBatch twin, the
    * cohort-matrix member of the sketch-store family (q224's twin is
    * the panel member). Standing state, BOTH pieces replay-safe by
    * ALGEBRA (idempotent commutative merges, no fingerprints or
    * anti-join guards):
    *
    *  - `name_rcoh` (user_id, c_day): the cohort map, merged by MIN —
    *    redelivering any batch re-applies least() over the same days, a
    *    no-op. Users-bounded (the irreducible state: cohort assignment
    *    cannot be sketched).
    *  - `name_rcells` (c_day, offset_days, hs): per-cell bottom-k KMV
    *    sketches, merged by k-truncated sorted set-union — bottom-k of
    *    a union is the union of bottom-ks, so redelivery is a no-op
    *    and the result is partition/order-free. cells·k-bounded.
    *
    * Each batch: distinct (user, day) + the SHARED withKmvHash; MIN-
    * merge the cohort map; fold the batch's cell contributions (offsets
    * against the UPDATED map) into the cell sketches; recompute the
    * estimate panel (n_active_est, cohort_n_est, retention_est — the
    * q242 est columns) and OVERWRITE outPath (snapshot discipline).
    *
    * Documented drift window: a user's FIRST day arriving in a LATER
    * batch than another of their days updates the map (subsequent cells
    * correct) but cannot retract the hash already merged under the old
    * cohort — sketches are insert-only. Equality with the batch q242 is
    * therefore pinned for in-order delivery (each user's first day
    * arrives no later than their other days); the exact twin
    * (retentionBatch) recomputes from the grain table and has no such
    * window — the standard exact-vs-sketch trade, stated. */
  def streamingRetentionKmv(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      retentionKmvBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingRetentionKmv]] — public for the
    * spec. */
  def retentionKmvBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val k = graft.queries.TimeSeries.kmvK
    // Neither standing table is rebuildable (cohort map + cell sketches
    // exist nowhere else): repair any crash-interrupted swap BEFORE the
    // tableExists probes — the DROP→RENAME window would otherwise read
    // as "first touch" and silently discard all prior cohorts/cells.
    graft.util.BucketedStores.recoverSwap(s, s"${name}_rcoh")
    graft.util.BucketedStores.recoverSwap(s, s"${name}_rcells")
    if (!batch.isEmpty) {
      val bd = graft.queries.TimeSeries.withKmvHash(
        graft.util.Tables.normalizeTsNanos(batch)
          .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day")
          .distinct())
        .localCheckpoint() // batch user-days + h; map + cell consumers
      val ctbl = s"${name}_rcoh"
      val bmin = bd.groupBy("user_id").agg(min("day").as("c_day"))
      if (!s.catalog.tableExists(ctbl)) {
        bmin.write.mode("overwrite").format("parquet")
          .option("path", s"$location/rcoh").saveAsTable(ctbl)
      } else {
        s.catalog.refreshTable(ctbl)
        val merged = s.table(ctbl).selectExpr("user_id", "c_day AS c_old")
          .join(bmin.selectExpr("user_id", "c_day AS c_new"),
            Seq("user_id"), "full")
          .selectExpr("user_id",
            "least(coalesce(c_old, c_new), coalesce(c_new, c_old)) AS c_day")
          .localCheckpoint() // the swap drops the table it derives from
        graft.util.BucketedStores.swapContents(s, ctbl, merged)
        s.catalog.refreshTable(ctbl)
      }
      val coh = s.table(ctbl).localCheckpoint()
      val bcells = bd.join(coh, Seq("user_id"))
        .selectExpr("c_day", "day - c_day AS offset_days", "h")
        .groupBy("c_day", "offset_days").agg(collect_set("h").as("hs0"))
        .selectExpr("c_day", "offset_days",
          s"slice(array_sort(hs0), 1, $k) AS hs")
      val rtbl = s"${name}_rcells"
      if (!s.catalog.tableExists(rtbl)) {
        bcells.write.mode("overwrite").format("parquet")
          .option("path", s"$location/rcells").saveAsTable(rtbl)
      } else {
        s.catalog.refreshTable(rtbl)
        val merged = s.table(rtbl)
          .selectExpr("c_day", "offset_days", "hs AS hs_old")
          .join(bcells.selectExpr("c_day", "offset_days", "hs AS hs_new"),
            Seq("c_day", "offset_days"), "full")
          .selectExpr("c_day", "offset_days",
            s"""slice(array_sort(array_distinct(concat(
               |  coalesce(hs_old, array()), coalesce(hs_new, array())))),
               |  1, $k) AS hs""".stripMargin)
          .localCheckpoint()
        graft.util.BucketedStores.swapContents(s, rtbl, merged)
        s.catalog.refreshTable(rtbl)
      }
      val sz = graft.queries.TimeSeries.withKmvHash(coh)
        .groupBy("c_day")
        .agg(graft.functions.KmvDistinct.kmv_distinct(
          col("h"), k, graft.text.TextOps.P).as("cohort_n_est"))
      s.table(rtbl)
        .selectExpr("c_day", "offset_days",
          s"${graft.queries.TimeSeries.kmvEstStr("hs")} AS n_active_est")
        .join(broadcast(sz), Seq("c_day"))
        .selectExpr("c_day AS cohort_day", "offset_days",
          "n_active_est", "cohort_n_est",
          "CASE WHEN cohort_n_est > 0 THEN round(CAST(n_active_est AS DOUBLE) / cohort_n_est, 6) END AS retention_est")
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING A/B experiment panel — q238's foreachBatch twin,
    * completing the event-panel twin discipline (every batch member has
    * a streaming twin). The standing state is the per-user conversion
    * bit `name_abconv`(user_id, conv ∈ {0,1}) merged by MAX — NOT an
    * additive per-(experiment, arm) count through DeltaStore: q238's
    * conversion is a per-USER max (did this user EVER make a big-ticket
    * purchase), so additive cell counts would double-count a user whose
    * qualifying purchases land in two different micro-batches, and
    * could never flip a user who was active-without-converting in an
    * earlier batch. MAX is idempotent and commutative, so an
    * at-least-once redelivery re-applies greatest() over the same bits
    * — a no-op, replay-safe by pure ALGEBRA (the retentionKmvBatch
    * class, no fingerprints or anti-join guards). Arm assignment is
    * q238's deterministic per-experiment hash of user_id, applied at
    * recompute time — it needs no state at all.
    *
    * Each batch: per-user conv partial (map-side MAX); MAX-merge into
    * the standing table (full-outer join swapped in atomically —
    * users-bounded, the irreducible state); recompute the full
    * experiment panel via the SHARED [[graft.queries.TimeSeries
    * .abTestFromUsers]] and OVERWRITE outPath (snapshot discipline;
    * spec-pinned ≡ the batch q238 incl. a conversion arriving after
    * the user's first appearance, and a redelivery). */
  def streamingAbTest(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      abTestBatch(batch, name, location, outPath)
    }

  /** MAX-merge the batch's per-user conversion bits into the standing
    * `tbl` (create on first touch) — shared by the q238 and q245 twins
    * so one conversion store can serve both panels. */
  private def mergeConvState(batch: DataFrame, tbl: String,
      location: String): Unit = {
    val s = batch.sparkSession
    val bu = graft.util.Tables.normalizeTsNanos(batch)
      .groupBy("user_id")
      .agg(max(expr(graft.queries.TimeSeries.convExprStr)).as("conv"))
    if (!s.catalog.tableExists(tbl)) {
      bu.write.mode("overwrite").format("parquet")
        .option("path", location).saveAsTable(tbl)
    } else {
      s.catalog.refreshTable(tbl)
      val merged = s.table(tbl).selectExpr("user_id", "conv AS c_old")
        .join(bu.selectExpr("user_id", "conv AS c_new"),
          Seq("user_id"), "full")
        .selectExpr("user_id",
          "greatest(coalesce(c_old, c_new), coalesce(c_new, c_old)) AS conv")
        .localCheckpoint() // the swap drops the table it derives from
      graft.util.BucketedStores.swapContents(s, tbl, merged)
      s.catalog.refreshTable(tbl)
    }
  }

  /** One micro-batch of [[streamingAbTest]] — public for the spec. */
  def abTestBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"${name}_abconv"
    // per-user bits are not rebuildable from a corpus: repair a
    // crash-interrupted swap BEFORE the tableExists probe.
    graft.util.BucketedStores.recoverSwap(s, tbl)
    if (!batch.isEmpty) {
      mergeConvState(batch, tbl, s"$location/abconv")
      graft.queries.TimeSeries.abTestFromUsers(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING multi-arm experiment panel — q245's foreachBatch twin.
    * IDENTICAL state to [[abTestBatch]] (the per-user MAX conversion
    * bit — arm assignment is a stateless hash applied at recompute
    * time, for ANY arm count), so the twin is the same algebra with
    * the q245 recompute; replay-safe with no guards. */
  def streamingAbMultiArm(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      abMultiArmBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingAbMultiArm]] — public for the spec. */
  def abMultiArmBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"${name}_abconv"
    graft.util.BucketedStores.recoverSwap(s, tbl)
    if (!batch.isEmpty) {
      mergeConvState(batch, tbl, s"$location/abconv")
      graft.queries.TimeSeries.abMultiArmFromUsers(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING churn survival — q243's foreachBatch twin. The standing
    * state is the per-user activity span `name_chspan`(user_id, d0, d1)
    * merged by MIN on d0 / MAX on d1 — replay-safe by pure ALGEBRA
    * (least/greatest are idempotent and commutative; a redelivery
    * re-applies them over the same days, a no-op). This is the FULL
    * information the Nelson–Aalen estimator needs: lifetimes are
    * d1 − d0, censoring compares d1 to max(d1) (≡ max over all activity
    * days), so the users-bounded span table loses nothing the exact
    * curve uses. Each batch: per-user (min, max) day partial; MIN/MAX-
    * merge; recompute the curve via the SHARED
    * [[graft.queries.TimeSeries.churnSurvivalFromSpans]] and OVERWRITE
    * outPath (snapshot discipline; spec-pinned ≡ the batch q243 incl. a
    * user whose span GROWS across micro-batches, and a redelivery). */
  def streamingChurnSurvival(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      churnSurvivalBatch(batch, name, location, outPath)
    }

  /** MIN/MAX-merge the batch's per-user (d0, d1) spans into the
    * standing `tbl` (create on first touch) — shared by the q243 and
    * q246 twins so one span store serves both survival panels. */
  private def mergeSpanState(batch: DataFrame, tbl: String,
      location: String): Unit = {
    val s = batch.sparkSession
    val bs = graft.util.Tables.normalizeTsNanos(batch)
      .selectExpr("user_id", s"${graft.util.Tables.tsNanosDay} AS day")
      .groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
    if (!s.catalog.tableExists(tbl)) {
      bs.write.mode("overwrite").format("parquet")
        .option("path", location).saveAsTable(tbl)
    } else {
      s.catalog.refreshTable(tbl)
      val merged = s.table(tbl)
        .selectExpr("user_id", "d0 AS a0", "d1 AS a1")
        .join(bs.selectExpr("user_id", "d0 AS b0", "d1 AS b1"),
          Seq("user_id"), "full")
        .selectExpr("user_id",
          "least(coalesce(a0, b0), coalesce(b0, a0)) AS d0",
          "greatest(coalesce(a1, b1), coalesce(b1, a1)) AS d1")
        .localCheckpoint() // the swap drops the table it derives from
      graft.util.BucketedStores.swapContents(s, tbl, merged)
      s.catalog.refreshTable(tbl)
    }
  }

  /** One micro-batch of [[streamingChurnSurvival]] — public for the
    * spec. */
  def churnSurvivalBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"${name}_chspan"
    // spans are not rebuildable from a corpus: repair a crash-
    // interrupted swap BEFORE the tableExists probe.
    graft.util.BucketedStores.recoverSwap(s, tbl)
    if (!batch.isEmpty) {
      mergeSpanState(batch, tbl, s"$location/chspan")
      graft.queries.TimeSeries.churnSurvivalFromSpans(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING log-rank test — q246's foreachBatch twin. IDENTICAL
    * state to [[churnSurvivalBatch]] (the per-user MIN/MAX span —
    * segment membership is a stateless function of user_id applied at
    * recompute time), so the twin is the same algebra with the q246
    * recompute; replay-safe with no guards. */
  def streamingLogRank(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      logRankBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingLogRank]] — public for the spec. */
  def logRankBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"${name}_chspan"
    graft.util.BucketedStores.recoverSwap(s, tbl)
    if (!batch.isEmpty) {
      mergeSpanState(batch, tbl, s"$location/chspan")
      graft.queries.TimeSeries.logRankFromSpans(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING journey transitions — q244's foreachBatch twin. The
    * standing grain is the EVENT itself ((event_id, user_id,
    * event_type, us) behind the funnel twin's event_id anti-join replay
    * guard) — NOT additive transition counts through DeltaStore: a
    * transition is an ADJACENT PAIR in the per-user (us, event_id)
    * order, so a user's last event of one micro-batch and first event
    * of the next form a transition NEITHER batch can count locally
    * (the same batch-spanning argument that put the funnel twin on the
    * event grain), and a late-arriving event splices INTO existing
    * pairs, retracting a previously-counted transition — additive
    * deltas cannot retract. Each batch: dedup, anti-join admit,
    * recompute the full grid via the SHARED [[graft.queries.TimeSeries
    * .journeyTransitionsCore]] and OVERWRITE outPath (snapshot
    * discipline; spec-pinned ≡ the batch q244 incl. a transition whose
    * two events SPAN micro-batches, and a redelivery). Scale shape: the
    * standing table is the event log itself — at production scale the
    * already-stored source relation (partition by day). */
  def streamingJourneys(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      journeyTransitionsBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingJourneys]] — public for the spec. */
  def journeyTransitionsBatch(batch: DataFrame, name: String,
      location: String, outPath: String): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      // intra-batch dedup on the standing grain: duplicate event_ids
      // WITHIN one micro-batch would both pass the standing anti-join
      // and fabricate a self-transition.
      val ev = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("event_id", "user_id", "event_type",
          "CAST(ts div 1000 AS BIGINT) AS us")
        .dropDuplicates("event_id")
      val tbl = s"${name}_jevents"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        ev.join(s.table(tbl), Seq("event_id"), "left_anti")
      } else ev).localCheckpoint()
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/jevents")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      graft.queries.TimeSeries.journeyTransitionsCore(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING top converting journeys — q248's foreachBatch twin, on
    * the [[journeyTransitionsBatch]] event-grain state (a path is an
    * in-session SEQUENCE, so the batch-spanning / late-splice argument
    * that put q244's twin on the event grain applies verbatim —
    * additive gram counts could neither see a path whose steps span
    * micro-batches nor retract grams a late event splices apart).
    * Each batch: dedup, event_id anti-join admit, recompute the full
    * top-K table via the SHARED topJourneysCore, OVERWRITE outPath. */
  def streamingTopJourneys(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      topJourneysBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingTopJourneys]] — public for the spec. */
  def topJourneysBatch(batch: DataFrame, name: String,
      location: String, outPath: String): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      val ev = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("event_id", "user_id", "event_type",
          "CAST(ts div 1000 AS BIGINT) AS us")
        .dropDuplicates("event_id")
      val tbl = s"${name}_tjevents"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        ev.join(s.table(tbl), Seq("event_id"), "left_anti")
      } else ev).localCheckpoint()
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/tjevents")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      graft.queries.TimeSeries.topJourneysCore(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING sample-ratio-mismatch guardrail — q249's foreachBatch
    * twin. IDENTICAL state to [[abTestBatch]] (SRM needs only the user
    * SET, which the shared conversion store's key column carries; arm
    * assignment is a stateless hash applied at recompute time), so the
    * twin is the same MAX-merge algebra with the q249 recompute —
    * replay-safe with no guards. */
  def streamingSrmCheck(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      srmCheckBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingSrmCheck]] — public for the spec. */
  def srmCheckBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"${name}_abconv"
    graft.util.BucketedStores.recoverSwap(s, tbl)
    if (!batch.isEmpty) {
      mergeConvState(batch, tbl, s"$location/abconv")
      graft.queries.TimeSeries.srmCheckFromUsers(
        s.table(tbl).select("user_id"))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING minimum-detectable-effect panel — q253's foreachBatch
    * twin. IDENTICAL state to [[abTestBatch]] (the per-user MAX
    * conversion bit feeds the same 2×2 cells q238 reads), so the twin
    * is the same algebra with the q253 recompute — replay-safe with no
    * guards. */
  def streamingAbMde(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      abMdeBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingAbMde]] — public for the spec. */
  def abMdeBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"${name}_abconv"
    graft.util.BucketedStores.recoverSwap(s, tbl)
    if (!batch.isEmpty) {
      mergeConvState(batch, tbl, s"$location/abconv")
      graft.queries.TimeSeries.abMdeFromUsers(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING hazard ratio — q252's foreachBatch twin. IDENTICAL
    * state to [[churnSurvivalBatch]] (the per-user MIN/MAX span feeds
    * the shared lrFold kernel; segment membership is a stateless
    * function of user_id), so the twin is the same least/greatest
    * algebra with the q252 recompute — replay-safe with no guards. */
  def streamingHazardRatio(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      hazardRatioBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingHazardRatio]] — public for the
    * spec. */
  def hazardRatioBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"${name}_chspan"
    graft.util.BucketedStores.recoverSwap(s, tbl)
    if (!batch.isEmpty) {
      mergeSpanState(batch, tbl, s"$location/chspan")
      graft.queries.TimeSeries.hazardRatioFromSpans(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING second-order journeys — q251's foreachBatch twin, on
    * the [[journeyTransitionsBatch]] event-grain state: a TRIPLE is two
    * adjacent pairs in the per-user (us, event_id) order, so the
    * batch-spanning / late-splice argument that put q244's twin on the
    * event grain applies with even more force (three events, two seams).
    * Each batch: dedup, event_id anti-join admit, recompute the sparse
    * context relation via the SHARED journeyTrigramsCore, OVERWRITE
    * outPath. */
  def streamingJourneyTrigrams(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      journeyTrigramsBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingJourneyTrigrams]] — public for the
    * spec. */
  def journeyTrigramsBatch(batch: DataFrame, name: String,
      location: String, outPath: String): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      val ev = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("event_id", "user_id", "event_type",
          "CAST(ts div 1000 AS BIGINT) AS us")
        .dropDuplicates("event_id")
      val tbl = s"${name}_jgevents"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        ev.join(s.table(tbl), Seq("event_id"), "left_anti")
      } else ev).localCheckpoint()
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/jgevents")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      graft.queries.TimeSeries.journeyTrigramsCore(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING CUPED panel — q250's foreachBatch twin, on the
    * event-grain state (event_id, user_id, day, event_type, cents):
    * the pre/post boundary is the GLOBAL calendar midpoint, so a batch
    * that extends the calendar reclassifies EXISTING purchases between
    * X and Y — per-user (x, y) partials are not mergeable by any
    * algebra (the additive-can't-retract argument at the covariate
    * grain). The event_id anti-join guard makes redelivery a no-op;
    * each batch recomputes the panel via the SHARED cupedFromDays. */
  def streamingCuped(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      cupedBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingCuped]] — public for the spec. */
  def cupedBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      val ev = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("event_id", "user_id",
          s"${graft.util.Tables.tsNanosDay} AS day", "event_type",
          "CAST(round(value * 100, 0) AS BIGINT) AS cents")
        .dropDuplicates("event_id")
      val tbl = s"${name}_cupevents"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        ev.join(s.table(tbl), Seq("event_id"), "left_anti")
      } else ev).localCheckpoint()
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/cupevents")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      graft.queries.TimeSeries.cupedFromDays(
        s.table(tbl).select("user_id", "day", "event_type", "cents"))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING funnel — q220's foreachBatch twin: the standing grain is
    * the EVENT itself ((event_id, user_id, event_type, us) — the funnel
    * needs full event timestamps, not a per-user min: stage n's
    * qualifying event is the first one AFTER stage n−1's, which a
    * compressed grain could have dropped), admitted behind an event_id
    * anti-join replay guard, then the 3-stage panel recomputes and
    * OVERWRITES `outPath` (the snapshot discipline; spec-pinned ≡ the
    * batch funnel incl. a conversion whose stages SPAN micro-batches).
    * Scale shape: the standing table is the event log itself — at
    * production scale that is the already-stored source relation
    * (partition it by day); the per-batch recompute is the batch
    * operator's 3 bounded-stage passes. */
  def streamingFunnel(events: DataFrame, name: String, location: String,
      outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      funnelBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingFunnel]] — public for the spec. */
  def funnelBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      // intra-batch dedup on the standing grain (r18 ADVICE): duplicate
      // event_ids WITHIN one micro-batch would both pass the standing
      // anti-join — mirror the (user_id, day) twins' batch-side distinct.
      val ev = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("event_id", "user_id", "event_type",
          "CAST(ts div 1000 AS BIGINT) AS us")
        .dropDuplicates("event_id")
      val tbl = s"${name}_events"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        ev.join(s.table(tbl), Seq("event_id"), "left_anti")
      } else ev).localCheckpoint()
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/events")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      graft.queries.TimeSeries.funnelCore(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING revenue cohorts — q233's foreachBatch twin, completing
    * the event-panel twin family (retention q219, funnel q220, active
    * users q221, error spikes q222, revenue q233): the standing grain
    * is the (event_id, user_id, day, event_type, cents) event record
    * behind the funnel twin's event_id anti-join replay guard (revenue
    * is additive per EVENT, so the event key makes the append exactly-
    * once under redelivery), then the full LTV matrix recomputes and
    * OVERWRITES outPath (the snapshot discipline; spec-pinned ≡ the
    * batch matrix incl. a redelivery). */
  def streamingRevenueCohorts(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      revenueCohortsBatch(batch, name, location, outPath)
    }

  /** One micro-batch of [[streamingRevenueCohorts]] — public for the spec. */
  def revenueCohortsBatch(batch: DataFrame, name: String, location: String,
      outPath: String): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      // intra-batch dedup on the standing grain (r18 ADVICE): two copies
      // of one event_id inside a single micro-batch would both pass the
      // standing anti-join and double-count revenue.
      val ev = graft.util.Tables.normalizeTsNanos(batch)
        .selectExpr("event_id", "user_id",
          s"${graft.util.Tables.tsNanosDay} AS day", "event_type",
          "CAST(round(value * 100, 0) AS BIGINT) AS cents")
        .dropDuplicates("event_id")
      val tbl = s"${name}_revents"
      val fresh = (if (s.catalog.tableExists(tbl)) {
        s.catalog.refreshTable(tbl)
        ev.join(s.table(tbl), Seq("event_id"), "left_anti")
      } else ev).localCheckpoint()
      fresh.write.mode("append").format("parquet")
        .option("path", s"$location/revents")
        .saveAsTable(tbl)
      s.catalog.refreshTable(tbl)
      graft.queries.TimeSeries.revenueCohortsCore(s.table(tbl))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** STREAMING error-spike detection — q222's foreachBatch twin and THE
    * canonical streaming alert (a trailing-baseline z-test over a live
    * event stream). The standing grain is hour-level counts, which are
    * ADDITIVE — an anti-join guard can't make additive deltas replay-
    * safe (two genuine batches may both contribute to one hour), so the
    * state is a [[graft.util.DeltaStore]] table `name_hours`: each
    * batch APPENDS its (hour, n, e) aggregate under batch_fp = batchId,
    * a same-id redelivery appends identical rows that the store's
    * (batch_fp, hour) max-dedup collapses, and the accumulated delta
    * rows FOLD into one base row set via `DeltaStore.compact` when
    * batch cadence makes O(batches) rows the read bottleneck — with
    * post-fold replays absorbed by the tombstone anti-join
    * (spec-pinned: the panel is invariant across append / replay /
    * fold / post-fold replay). The full spike panel recomputes over
    * `DeltaStore.live` and OVERWRITES `outPath` (snapshot discipline;
    * spec-pinned ≡ the batch panel incl. a same-batchId redelivery).
    * Scale shape: the delta store is hours × batches rows (one base
    * set + a tombstone per batch after a fold) — tiny at any event
    * volume; the panel recompute is hours-bounded. */
  def streamingErrorSpikes(events: DataFrame, name: String,
      location: String, outPath: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      errorSpikesBatch(batch, name, location, outPath, batchId)
    }

  /** One micro-batch of [[streamingErrorSpikes]] — public so the spec
    * can redeliver the SAME batchId and pin the collapse. */
  def errorSpikesBatch(batch: DataFrame, name: String, location: String,
      outPath: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    if (!batch.isEmpty) {
      graft.util.DeltaStore.append(s, s"${name}_hours", s"$location/hours",
        graft.util.Tables.normalizeTsNanos(batch)
          .selectExpr(s"${graft.util.Tables.tsNanosHour} AS hour", "event_type")
          .groupBy("hour").agg(count(lit(1)).as("n"),
            sum(expr("CASE WHEN event_type = 'error' THEN CAST(1 AS BIGINT) ELSE 0 END")).as("e")),
        batchFp = batchId)
      graft.queries.TimeSeries.errorSpikesCore(
        graft.util.DeltaStore.live(s, s"${name}_hours",
          Seq("hour"), Seq("n", "e")))
        .write.mode("overwrite").parquet(outPath)
    }
    ()
  }

  /** Append-mode variant (dedup and other non-aggregating sinks). */
  def runToMemoryAppend(spark: SparkSession, writer: DataStreamWriter[Row],
      name: String): DataFrame = {
    val q = writer
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
