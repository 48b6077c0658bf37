package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.similarity.SimilarityOps
import graft.util.Snapshots

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw scrape and tokenization: global boilerplate stripping
  * (the line-level dedup of CCNet / RefinedWeb, re-expressed over this
  * corpus's space-separated token segments), RAG-style overlapping
  * chunking, and MMR diversity re-ranking of retrieval candidates.
  *
  * Cross-engine determinism: segment/chunk keys are the engine-wide
  * two-level radix-31 polynomial hash (char fold per token, then a fold
  * over token hashes — TextOps.P modulus), and every MMR similarity is
  * integerized (`round(cos * 1e6)` as int64) BEFORE any comparison, so
  * greedy selection never depends on float tie behavior.
  *
  * Scale notes (100 TB):
  *   - boilerplateStrip is explode → groupBy(segment hash) → join-back →
  *     groupBy(doc_id): two shuffles on map-side-combinable keys plus one
  *     hash join against the (heavy-hitter-sized) boilerplate set — the
  *     boilerplate relation only holds segments repeated in >= minDocs
  *     DISTINCT docs, so at scale it is tiny relative to the corpus and
  *     AQE broadcasts the join-back side.
  *   - chunk is a pure per-row projection + explode: no cross-doc
  *     shuffle at all; fan-out (~n_tokens/stride per doc) stays inside
  *     the scan stage.
  *   - mmrRerank's loop only ever touches |queries| x poolK rows: the
  *     corpus is streamed ONCE for the top-poolK pool (broadcast query
  *     set, no corpus shuffle — the q27 shape), and each greedy round is
  *     a join + window over the k-sized pool.
  */
object CurationOps {

  private val P = TextOps.P

  /** Radix-31 fold over an array<string> of tokens: char fold per token,
    * then a fold over the token hashes (same two-level scheme as
    * TextOps.shingleHashExpr, so oracles mirror it with list_reduce). */
  private def segHashExpr(segCol: String): String =
    s"aggregate(transform($segCol, tok -> ${TextOps.polyHash("tok")}), 0L, (acc, h) -> (acc * 31 + h) % ${P}L)"

  /** (doc_id[, carry...], seg_idx, seg, h): consecutive `segTokens`-token
    * segments of each doc (last may be shorter) with the two-level fold
    * hash. `carry` names extra per-doc columns to ride along the explode
    * (cheap for short values; lets a caller aggregate per (doc, carry)
    * without re-reading the doc relation). */
  private[graft] def segmentRelation(docs: DataFrame, segTokens: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = col("doc_id") +: carry.map(col)
    // production path: the native one-pass kernel hashes each char once
    // inside codegen; [[segmentRelationSpec]] is the HOF executable spec
    // (bit-equality pinned in CurationSpec)
    docs
      .select(keys :+ graft.functions.TextExprs
        .seg_structs(col("text"), segTokens).as("__segs"): _*)
      .select(keys :+ explode(col("__segs")).as("__s"): _*)
      .select(keys ++ Seq(
        col("__s.seg_idx").as("seg_idx"),
        split(col("__s.txt"), " ").as("seg"),
        col("__s.h").as("h")): _*)
  }

  /** The declarative HOF form of [[segmentRelation]] — the executable
    * spec the oracles mirror; not the production path. */
  private[graft] def segmentRelationSpec(docs: DataFrame, segTokens: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = col("doc_id") +: carry.map(col)
    docs
      .select(keys :+ split(col("text"), " ").as("toks"): _*)
      .select(keys :+ posexplode(expr(
          s"transform(sequence(0, CAST(ceil(size(toks) / $segTokens.0D) AS INT) - 1), i -> slice(toks, i * $segTokens + 1, $segTokens))"))
          .as(Seq("seg_idx", "seg")): _*)
      .withColumn("h", expr(segHashExpr("seg")))
  }

  /** Reassemble per-doc output from a marked segment relation (must carry
    * doc_id, seg_idx, seg, keep). The groupBy(doc_id) is the operator's
    * ONE text-carrying exchange — inherent to reassembly. */
  private def reassemble(marked: DataFrame): DataFrame =
    marked
      .groupBy("doc_id")
      .agg(
        sum(size(col("seg"))).cast("long").as("n_tokens"),
        sum(when(col("keep"), size(col("seg"))).otherwise(0)).cast("long").as("kept_tokens"),
        count(when(!col("keep"), 1)).cast("long").as("dropped_segments"),
        sort_array(collect_list(when(col("keep"), struct(col("seg_idx"), col("seg"))))).as("__ks"))
      .select(
        col("doc_id"),
        concat_ws(" ", flatten(expr("transform(__ks, s -> s.seg)"))).as("clean_text"),
        col("n_tokens"), col("kept_tokens"), col("dropped_segments"),
        round((col("n_tokens") - col("kept_tokens")).cast("double") / col("n_tokens"), 6)
          .as("dropped_frac"))

  /** Global boilerplate-segment removal (RefinedWeb/CCNet line dedup
    * re-expressed on single-space token text): split each doc into
    * consecutive `segTokens`-token segments (last one may be shorter),
    * drop every segment whose hash occurs in >= `minDocs` DISTINCT
    * documents corpus-wide, and reassemble the surviving text in order.
    *
    * Output: doc_id, clean_text, n_tokens, kept_tokens,
    * dropped_segments, dropped_frac (dropped tokens / n_tokens). */
  def boilerplateStrip(docs: DataFrame, segTokens: Int, minDocs: Int): DataFrame = {
    val segs = segmentRelation(docs, segTokens)
    // distinct-doc frequency per segment hash; >= minDocs → boilerplate.
    // countDistinct partial-aggregates per partition before the exchange
    // (column pruning keeps text out of it: only h + doc_id shuffle).
    val boil = segs
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("boil"))
    reassemble(segs
      .join(boil, Seq("h"), "left")
      .withColumn("keep", col("boil").isNull))
  }

  /** (doc_id, tokens): each doc's SURVIVING token count under
    * [[boilerplateStrip]]'s verdict — the counts-only path for pipelines
    * that budget/pack on clean tokens without materializing clean_text:
    * text is pruned before the first exchange (segment hashes + int
    * sizes shuffle; no reassembly, no text-carrying exchange at all). */
  def boilerplateKeptTokens(docs: DataFrame, segTokens: Int, minDocs: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = col("doc_id") +: carry.map(col)
    // counts-only path: project the kernel's ntok directly — no reason to
    // re-split segment text into token arrays just to size() them
    val segs = docs
      .select(keys :+ graft.functions.TextExprs
        .seg_structs(col("text"), segTokens).as("__segs"): _*)
      .select(keys :+ explode(col("__segs")).as("__s"): _*)
      .select(keys :+ col("__s.h").as("h") :+ col("__s.ntok").as("__stok"): _*)
    val boil = segs
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("boil"))
    segs
      .join(boil, Seq("h"), "left")
      .groupBy(col("doc_id") +: carry.map(col): _*)
      .agg(sum(when(col("boil").isNull, col("__stok")).otherwise(0))
        .cast("long").as("tokens"))
  }

  // ---- standing segment-frequency store (the q90/q110/q119 symmetry) ----

  /** Persist the corpus's segment-frequency state for incremental
    * boilerplate admission: `name_segs` holds DISTINCT (h, doc_id) pairs
    * bucketed by h (probes aggregate only matched hashes with a
    * bucket-aligned scan; the pair grain also makes appends idempotent
    * and rebuilds exact), `name_docs` the admitted ids (replay guard),
    * `name_meta` (written LAST — it gates completeness) the geometry +
    * dataset tag. */
  def buildSegFreqStore(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, name: String, segTokens: Int, minDocs: Int,
      location: String, buckets: Int = 32, datasetTag: String = ""): Unit = {
    import spark.implicits._
    segmentRelation(corpus, segTokens)
      .select("h", "doc_id").distinct()
      .write.mode("overwrite").option("path", s"$location/segs")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(s"${name}_segs")
    corpus.select("doc_id")
      .write.mode("overwrite").option("path", s"$location/docs")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
    Seq((segTokens, minDocs, buckets, datasetTag))
      .toDF("seg_tokens", "min_docs", "buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether store `name` exists AND was built from `datasetTag` (the
    * bandIndexMatches contract: missing table / unreadable meta / tag
    * mismatch all answer "rebuild"). */
  def segFreqStoreMatches(spark: org.apache.spark.sql.SparkSession,
      name: String, datasetTag: String): Boolean =
    Snapshots.storeTagged(spark, name, Seq("segs", "docs"), datasetTag)

  /** Append an admitted batch to the standing store — a bucket-aligned
    * append of batch-sized data; the corpus is never re-segmented.
    * `idempotent = true` anti-joins the batch against `name_docs` first
    * (at-least-once replay inserts nothing); localCheckpoint pins the
    * verdict against the PRE-append ids before the writes mutate them. */
  def appendToSegFreqStore(spark: org.apache.spark.sql.SparkSession,
      newDocs0: DataFrame, name: String, idempotent: Boolean = false): Unit = {
    val meta = Snapshots.metaRow(spark, s"${name}_meta")
    val (segTokens, buckets) = (meta.getInt(0), meta.getInt(2))
    val newDocs = if (!idempotent) newDocs0 else newDocs0.join(
      spark.table(s"${name}_docs"), Seq("doc_id"), "left_anti").localCheckpoint()
    segmentRelation(newDocs, segTokens)
      .select("h", "doc_id").distinct()
      .write.mode("append")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(s"${name}_segs")
    newDocs.select("doc_id")
      .write.mode("append")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
  }

  /** Strip an arriving batch against the standing store: a segment is
    * boilerplate when standing distinct-doc count + the batch's OWN
    * distinct-doc count reaches min_docs — i.e. the verdict equals
    * running [[boilerplateStrip]] over (admitted corpus ∪ batch)
    * restricted to the batch's docs (spec-pinned; admission-time
    * semantics: already-admitted docs are never re-stripped).
    *
    * Scale shape: batch-side segmentation + the batch's DISTINCT hashes
    * probing the h-bucketed store — a small batch broadcasts into the
    * store scan (store streams with NO exchange), a corpus-fraction
    * increment co-locates to the bucket layout with only the increment
    * side shuffling (the probeBandIndex contract: no forced hint, AQE
    * picks the regime from the measured batch size) — then the
    * batch-sized reassembly. Flat per batch as the corpus grows. */
  def probeSegFreqStrip(spark: org.apache.spark.sql.SparkSession,
      increment: DataFrame, name: String): DataFrame = {
    val meta = Snapshots.metaRow(spark, s"${name}_meta")
    val (segTokens, minDocs) = (meta.getInt(0), meta.getInt(1))
    val segs = segmentRelation(increment, segTokens)
    val batchNd = segs.groupBy("h").agg(countDistinct(col("doc_id")).as("__bnd"))
    val standingNd = spark.table(s"${name}_segs")
      .join(segs.select("h").distinct(), Seq("h"))
      .groupBy("h").agg(count(lit(1)).as("__snd")) // store rows are distinct pairs
    val boil = batchNd
      .join(standingNd, Seq("h"), "left")
      .filter(col("__bnd") + coalesce(col("__snd"), lit(0L)) >= minDocs)
      .select(col("h"), lit(true).as("boil"))
    reassemble(segs
      .join(boil, Seq("h"), "left")
      .withColumn("keep", col("boil").isNull))
  }

  /** PII / lexicon scrub: apply `patterns` — (name, regex, replacement)
    * triples — to each document IN ORDER (a later pattern sees the earlier
    * replacements, exactly like a sed chain), with per-pattern match counts
    * measured on the ORIGINAL text. The regex subset used must be common to
    * Java regex and RE2 (`\b`, literals, alternation, classes — no
    * backreferences/lookaround) so the DuckDB oracle replays it verbatim.
    *
    * Pure per-row projection: zero exchanges, stays inside whole-stage
    * codegen (regexp_replace / regexp_count are native expressions). At
    * 100 TB this is scan-bound — the ideal shape for a redaction pass.
    * Production pattern sets are the usual email/phone/IPv4/SSN regexes;
    * the test corpus is digit-free, so its queries use lexicon patterns
    * that actually fire (the machinery is identical).
    *
    * Output: doc_id, n_<name> per pattern, total_redactions, scrubbed_text.
    */
  def piiScrub(docs: DataFrame, patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "need at least one pattern")
    val scrubbed = patterns.foldLeft(col("text")) {
      case (c, (_, pat, rep)) => regexp_replace(c, lit(pat), lit(rep))
    }
    val counts = patterns.map { case (name, pat, _) =>
      regexp_count(col("text"), lit(pat)).cast("long").as(s"n_$name")
    }
    docs
      .select(col("doc_id") +: counts :+ scrubbed.as("scrubbed_text"): _*)
      .withColumn("total_redactions",
        patterns.map(p => col(s"n_${p._1}")).reduce(_ + _))
      .select(col("doc_id") +:
        patterns.map(p => col(s"n_${p._1}")) :+
        col("total_redactions") :+ col("scrubbed_text"): _*)
  }

  /** Intra-document segment dedup (the WITHIN-doc half of RefinedWeb's
    * line dedup; [[boilerplateStrip]] is the cross-doc half): split each
    * doc into consecutive `segTokens`-token segments, keep only the FIRST
    * occurrence of each repeated segment (by the engine-wide two-level
    * hash), and reassemble the survivors in order.
    *
    * Entirely map-side: the whole operator is higher-order array
    * expressions over one row — first-occurrence marking is
    * `array_contains` over the hash prefix (O(n²) in segments per doc,
    * but n is tokens/segTokens ≈ dozens), and NO exchange of any kind is
    * planned. At 100 TB this is scan-bound, embarrassingly parallel, and
    * immune to skew — the contrast with boilerplateStrip's corpus-wide
    * frequency shuffle is the point: per-doc semantics should never pay a
    * cross-doc exchange.
    *
    * Output schema matches boilerplateStrip: doc_id, clean_text, n_tokens,
    * kept_tokens, dropped_segments, dropped_frac.
    *
    * Production path: ONE native expression (TextExprs.SegDedup) computes
    * the whole verdict per row inside whole-stage codegen — the HOF form
    * below ([[intraDocDedupSpec]]) allocates per-char/per-token objects in
    * interpreted lambdas and measured ~4× slower at sf0.1; it remains the
    * executable spec (CurationSpec pins bit-equality on the corpus). */
  def intraDocDedup(docs: DataFrame, segTokens: Int): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.TextExprs.seg_dedup(col("text"), segTokens).as("s"))
      .select(
        col("doc_id"), col("s.clean_text").as("clean_text"),
        col("s.n_tokens").as("n_tokens"), col("s.kept_tokens").as("kept_tokens"),
        col("s.dropped_segments").as("dropped_segments"))
      .withColumn("dropped_frac",
        round((col("n_tokens") - col("kept_tokens")).cast("double") / col("n_tokens"), 6))

  /** The declarative higher-order-function form of [[intraDocDedup]] — the
    * executable spec the oracle mirrors; not the production path. */
  def intraDocDedupSpec(docs: DataFrame, segTokens: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("segs", expr(
        s"transform(sequence(0, CAST(ceil(size(toks) / $segTokens.0D) AS INT) - 1), i -> slice(toks, i * $segTokens + 1, $segTokens))"))
      .withColumn("hs", expr(s"transform(segs, seg -> ${segHashExpr("seg")})"))
      // keep(i) ⟺ hs(i) not among hs(1..i-1) — slice(hs, 1, 0) is empty
      .withColumn("keep", expr(
        "transform(sequence(1, size(hs)), i -> NOT array_contains(slice(hs, 1, i - 1), element_at(hs, i)))"))
      .select(
        col("doc_id"),
        concat_ws(" ", flatten(expr(
          "transform(filter(arrays_zip(segs, keep), p -> p.keep), p -> p.segs)")))
          .as("clean_text"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("aggregate(zip_with(segs, keep, (s, k) -> IF(k, size(s), 0)), 0, (a, x) -> a + x)")
          .cast("long").as("kept_tokens"),
        expr("size(filter(keep, k -> NOT k))").cast("long").as("dropped_segments"))
      .withColumn("dropped_frac",
        round((col("n_tokens") - col("kept_tokens")).cast("double") / col("n_tokens"), 6))

  /** RAG-style overlapping chunker: token windows of `window` tokens at
    * `stride`-token steps (stride < window ⇒ overlap); the final chunk
    * may be shorter. chunk_id is the 0-based window ordinal; chunk_hash
    * is the two-level polynomial fold (the cross-doc exact-chunk-dedup
    * key — identical chunks from different docs share it). */
  def chunk(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride, s"need 0 < stride <= window")
    // production path: native one-pass kernel (see segmentRelation's note);
    // [[chunkSpec]] is the HOF executable spec, bit-equality pinned
    docs
      .select(col("doc_id"),
        explode(graft.functions.TextExprs
          .chunk_structs(col("text"), window, stride)).as("__c"))
      .select(
        col("doc_id"),
        col("__c.chunk_id").as("chunk_id"),
        col("__c.start").as("start"),
        col("__c.ntok").as("n_tokens"),
        col("__c.h").as("chunk_hash"),
        col("__c.txt").as("chunk_text"))
  }

  /** The declarative HOF form of [[chunk]] — the executable spec. */
  private[graft] def chunkSpec(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride, s"need 0 < stride <= window")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, CAST(floor((size(toks) - 1) / $stride.0D) AS INT)), i -> slice(toks, i * $stride + 1, $window))"))
          .as(Seq("chunk_id", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride).cast("long").as("start"),
        size(col("chunk")).cast("long").as("n_tokens"),
        expr(segHashExpr("chunk")).as("chunk_hash"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** MMR (maximal-marginal-relevance) diversity re-rank: for each query
    * vector, take the brute-force cosine top-`poolK` pool, then greedily
    * select `k` results maximizing
    *   score = lamX10 * sim(q,c) - (10 - lamX10) * max_{s in S} sim(c,s)
    * with all similarities integerized to round(cos*1e6) first, so the
    * argmax (ties: lowest cand id) is exact integer arithmetic in any
    * engine. rank 1 is the plain top-1 (empty S ⇒ zero penalty).
    *
    * Output: query_id, rank, neighbor_id, score6 (the integer MMR score
    * the pick maximized). */
  def mmrRerank(emb: DataFrame, queryPred: Column, poolK: Int, k: Int,
      lamX10: Int): DataFrame = {
    require(k >= 1 && poolK >= k && lamX10 >= 0 && lamX10 <= 10)
    val corpus = SimilarityOps.prepared(emb)
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim6",
        round(VectorExprs.dot_fold(col("qv"), col("v")) / (col("qnorm") * col("norm")) * 1e6)
          .cast("long"))
    val wTop = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("vec_id").asc)
    // |queries| x poolK rows from here on; checkpoint so the k greedy
    // rounds don't re-stream the corpus once per round.
    val pool = scored
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= poolK)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("sim6"), col("v"), col("norm"))
      .localCheckpoint()
    val lhs = pool.select(col("query_id"), col("cand_id").as("a"), col("v").as("av"), col("norm").as("an"))
    val rhs = pool.select(col("query_id"), col("cand_id").as("b"), col("v").as("bv"), col("norm").as("bn"))
    val pairs = lhs.join(rhs, Seq("query_id")).filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(VectorExprs.dot_fold(col("av"), col("bv")) / (col("an") * col("bn")) * 1e6)
          .cast("long").as("ab6"))
    val cands = pool.select("query_id", "cand_id", "sim6")

    var selected = cands
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim6").desc, col("cand_id").asc)))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("cand_id").as("neighbor_id"),
        lit(1L).as("rank"), (lit(lamX10.toLong) * col("sim6")).as("score6"))
    for (r <- 2 to k) {
      val selIds = selected.select(col("query_id"), col("neighbor_id"))
      val rem = cands.join(
        selIds.withColumnRenamed("neighbor_id", "cand_id"), Seq("query_id", "cand_id"), "left_anti")
      val pen = pairs
        .join(selIds.withColumnRenamed("neighbor_id", "b"), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("cand_id"))
        .agg(max(col("ab6")).as("pen6"))
      val next = rem.join(pen, Seq("query_id", "cand_id"))
        .withColumn("score6",
          lit(lamX10.toLong) * col("sim6") - lit((10 - lamX10).toLong) * col("pen6"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score6").desc, col("cand_id").asc)))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("cand_id").as("neighbor_id"),
          lit(r.toLong).as("rank"), col("score6"))
      selected = selected.unionByName(next)
    }
    selected
  }

  /** Packed MMR: same contract as [[mmrRerank]] (CurationSpec pins
    * row-for-row equality), but the greedy selection runs as ONE
    * codegen'd projection over the per-query pool instead of k rounds of
    * joins — after the top-poolK window, the ONLY exchange is the
    * groupBy(query_id) that packs the pool (poolK rows per query), and
    * the poolK² pairwise sims + k greedy rounds are HOF arithmetic inside
    * the projection (poolK and k are bounded constants, so per-row work
    * is O(k · poolK²) regardless of corpus size). This is the production
    * path: the loop form costs ~2 exchanges per greedy round. */
  def mmrRerankPacked(emb: DataFrame, queryPred: Column, poolK: Int, k: Int,
      lamX10: Int): DataFrame = {
    require(k >= 1 && poolK >= k && lamX10 >= 0 && lamX10 <= 10)
    val lam = lamX10.toLong
    val mu = (10 - lamX10).toLong
    val corpus = SimilarityOps.prepared(emb)
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim6",
        round(VectorExprs.dot_fold(col("qv"), col("v")) / (col("qnorm") * col("norm")) * 1e6)
          .cast("long"))
    val wTop = Window.partitionBy("query_id").orderBy(col("sim6").desc, col("vec_id").asc)
    val pool = scored
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= poolK)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("sim6"), col("v"), col("norm"))
    val packed = pool
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(
        col("cand_id"), col("sim6"), col("v"), col("norm")))).as("cands"))
    // pen(c | sel): max over selected s of round(cos(c, s) * 1e6); computed
    // on demand from the packed vectors (no materialized pair relation).
    val pairSim = // cos between two pool entries x, y, integerized
      "CAST(round(aggregate(zip_with(x.v, y.v, (p, q) -> p * q), 0D, (a2, t) -> a2 + t) / (x.norm * y.norm) * 1e6) AS BIGINT)"
    // a query whose pool holds fewer than k candidates exhausts it: the
    // round guard keeps acc unchanged (the loop form emits no row there
    // either — CurationSpec pins the small-pool case)
    val greedy =
      s"""aggregate(
         |  sequence(1, $k),
         |  CAST(struct(array(), array()) AS
         |       struct<sel: array<bigint>, out: array<struct<rank: bigint, neighbor_id: bigint, score6: bigint>>>),
         |  (acc, r) -> aggregate(
         |    array(array_max(transform(
         |      filter(cands, x -> NOT array_contains(acc.sel, x.cand_id)),
         |      x -> struct(
         |        $lam * x.sim6 - $mu * coalesce(
         |          aggregate(
         |            transform(filter(cands, y -> array_contains(acc.sel, y.cand_id)),
         |                      y -> $pairSim),
         |            CAST(NULL AS BIGINT),
         |            (m, ab) -> CASE WHEN m IS NULL OR ab > m THEN ab ELSE m END),
         |          0L) AS score,
         |        -x.cand_id AS negid)))),
         |    acc,
         |    (a, best) -> CASE WHEN best IS NULL THEN a ELSE struct(
         |      concat(a.sel, array(-best.negid)) AS sel,
         |      concat(a.out, array(struct(CAST(r AS BIGINT) AS rank,
         |                                 -best.negid AS neighbor_id,
         |                                 best.score AS score6))) AS out) END),
         |  acc -> acc.out)""".stripMargin.replace("\n", " ")
    packed
      .select(col("query_id"), explode(expr(greedy)).as("pick"))
      .select(col("query_id"), col("pick.rank").as("rank"),
        col("pick.neighbor_id").as("neighbor_id"), col("pick.score6").as("score6"))
  }

  // ---- DSIR-style importance weights --------------------------------------

  /** The per-bucket log-ratio expression — the SAME string runs in Spark
    * and the DuckDB oracle, so the fixed-point values are identical
    * (ln over the same exact-integer ratios, rounded at 9 decimals; the
    * q82 lnp_fp precedent). */
  private[graft] def dsirLrStr(buckets: Int): String =
    s"CAST(round((ln((ct + 1.0) / (ctt + $buckets)) - " +
      s"ln((cr + 1.0) / (crt + $buckets))) * 1e9, 0) AS BIGINT)"

  /** Hashed-bigram bucket array per doc: two-level radix-31 fold (char
    * fold per token, fold over each 2-slice) mod `buckets`. HOF form —
    * the executable spec for the native `shingle_hashes` route the
    * production path takes (bit-equality spec-pinned). */
  private[graft] def dsirBucketsExpr(buckets: Int): String =
    s"transform(${TextOps.shingleHashExpr(2)}, h -> h % $buckets)"

  /** Data Selection via Importance Resampling (Xie et al. 2023) weights:
    * bag-of-hashed-bigram models for the target slice and the raw corpus,
    * Laplace-smoothed; each doc scores
    * log w = Σ_occurrences [ln p̂_tgt(f) − ln q̂_raw(f)].
    *
    * Scale shape: the feature pass is a pure projection (no explode
    * survives — the bucket histogram aggregate is keyed by f, bounded at
    * `buckets` rows after map-side combine); the fitted model is collected
    * like centroids (`buckets` fixed-point longs — model-sized, never
    * data-sized) and re-enters the corpus pass as ONE literal array, so
    * scoring is projection-only: zero data-sized exchanges end to end. */
  /** Hashed-bigram bucket relation (doc_id, is_t, f-array) — the shared
    * feature pass of [[dsirWeights]] and the standing-store paths. */
  private def dsirFeatures(docs: DataFrame, isTarget: Column,
      buckets: Int): DataFrame =
    docs.select(col("doc_id"), isTarget.as("is_t"),
      transform(graft.functions.TextExprs.shingle_hashes(col("text"), 2),
        h => h % buckets).as("f"))

  /** Score a feature relation against a fitted lr array (projection-only;
    * the model enters as ONE typedLit). */
  private def dsirScore(bg: DataFrame, arr: Array[Long]): DataFrame = {
    val lrLit = typedLit(arr.toSeq)
    bg.select(col("doc_id"), size(col("f")).cast("long").as("n_bigrams"),
        aggregate(col("f"), lit(0L),
          (acc, x) => acc + element_at(lrLit, (x + 1).cast("int"))).as("s_fp"))
      .selectExpr("doc_id", "n_bigrams",
        "round(CAST(s_fp AS DOUBLE) / 1e9, 6) AS logw")
  }

  /** The Laplace-smoothed log-ratio of a bucket the model never counted
    * (ct = cr = 0) — what an ARRIVING doc's novel bucket must score. */
  private[graft] def dsirUnseenStr(buckets: Int): String =
    s"CAST(round((ln(1.0 / (ctt + $buckets)) - " +
      s"ln(1.0 / (crt + $buckets))) * 1e9, 0) AS BIGINT)"

  /** Collect a (f, ct, cr) bucket-count relation into the fitted
    * fixed-point lr array (model-sized: <= buckets rows); uncounted
    * buckets carry the smoothed unseen value, not 0 — scoring a corpus
    * the model was fitted ON never reads them, but standing-model
    * arrivals do. */
  private def fitLr(cnt0: DataFrame, buckets: Int): Array[Long] = {
    // two actions read cnt (un, then the lr collect); without the
    // barrier each would re-execute the corpus-sized lineage (the
    // gdStepsFp lesson) — cnt is <= buckets rows, so pin it once
    val cnt = cnt0.localCheckpoint()
    val tot = cnt.agg(coalesce(sum("cr"), lit(0L)).as("crt"),
      coalesce(sum("ct"), lit(0L)).as("ctt"))
    val un = tot.selectExpr(s"${dsirUnseenStr(buckets)} AS u").head().getLong(0)
    val lr = cnt.crossJoin(broadcast(tot))
      .selectExpr("f", s"${dsirLrStr(buckets)} AS lr_fp")
    val arr = Array.fill[Long](buckets)(un)
    lr.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int): DataFrame = {
    // production path: the native one-pass shingle kernel (codegen'd;
    // bit-equal to dsirBucketsExpr's HOF spec form, CurationSpec) — the
    // HOF route re-tokenized every doc through three interpreted lambdas
    // on BOTH corpus passes. Model-sized collect (<= buckets rows), then
    // the score pass is projection-only: the fitted model re-enters as
    // ONE typedLit array literal, not a 512-child CreateArray (the
    // expression-tree size is what the optimizer and codegen pay for).
    // Every bucket a doc emits was counted by construction, so the
    // smoothed-unseen fill fitLr applies is never read on this path.
    val bg = dsirFeatures(docs, isTarget, buckets)
    val cnt = bg.select(col("is_t"), explode(col("f")).as("f"))
      .groupBy("f")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    dsirScore(bg, fitLr(cnt, buckets))
  }

  // ---- standing DSIR model (the aggregating-store member of the
  // q90/q110/q119/q126/q138 standing family: model COUNTS are additive,
  // so admission appends per-batch bucket deltas and the probe sums) ----

  /** The batch's content fingerprint — a pure function of its doc-id
    * set, its TEXT content (poly-hash sum), and the target-predicate
    * partition (all order-free sums), so an at-least-once REPLAY of the
    * same batch reproduces the same value while two admissions that
    * merely share a doc-id set (a text edit, a flipped target predicate)
    * get DISTINCT fingerprints and both count. Stamped on every delta
    * row; the probe dedupes on (batch_fp, f), which makes a replayed
    * delta append a no-op for correctness NO MATTER where a crash
    * interleaved it with the doc-guard write (the guard is an
    * optimization, not the correctness mechanism). Always ≥ 0, so
    * [[BaseFp]] = −1 can never collide with a genuine batch. */
  private def batchFingerprint(docs: DataFrame, isTarget: Column): Long = {
    val P = TextOps.P
    val r = docs.agg(
      sum(pmod(col("doc_id"), lit(P)) * lit(31L) % lit(P)).as("s1"),
      sum(pmod(col("doc_id"), lit(P)) * pmod(col("doc_id"), lit(P)) % lit(P)).as("s2"),
      sum(pmod(graft.functions.Hashing.poly_hash(col("text")), lit(P))).as("s3"),
      sum(when(isTarget, 1L).otherwise(0L)).as("s4"),
      count(lit(1)).as("n")).head()
    if (r.isNullAt(0)) 0L
    else Seq(r.getLong(0) % P, r.getLong(1) % P, r.getLong(2) % P,
        r.getLong(3) % P)
      .foldLeft(0L)((acc, x) => (acc * 31 + x) % P) * 1000003 + r.getLong(4)
  }

  /** The (batch_fp, f, ct, cr) delta of one admitted batch. */
  private def dsirDelta(docs: DataFrame, isTarget: Column, buckets: Int,
      batchFp: Long): DataFrame =
    dsirFeatures(docs, isTarget, buckets)
      .select(col("is_t"), explode(col("f")).as("f"))
      .groupBy("f")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      .select(lit(batchFp).as("batch_fp"), col("f"), col("cr"), col("ct"))

  /** Persist the importance model's state: `name_counts` holds additive
    * (batch_fp, f, ct, cr) delta rows (each admission appends its
    * batch's bucket histogram — B-bounded per batch; the probe dedupes
    * identical replayed deltas on batch_fp before summing), `name_docs`
    * the admitted ids (the replay-skip guard), `name_meta` the geometry
    * (written LAST). */
  def buildDsirStore(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, isTarget: Column, name: String, buckets: Int,
      location: String, datasetTag: String = ""): Unit = {
    import spark.implicits._
    dsirDelta(docs, isTarget, buckets, batchFingerprint(docs, isTarget))
      .write.mode("overwrite").option("path", s"$location/counts")
      .saveAsTable(s"${name}_counts")
    docs.select("doc_id")
      .write.mode("overwrite").option("path", s"$location/docs")
      .bucketBy(8, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
    Seq((buckets, datasetTag)).toDF("buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether store `name` exists AND was built from `datasetTag`. */
  def dsirStoreMatches(spark: org.apache.spark.sql.SparkSession,
      name: String, datasetTag: String): Boolean =
    Snapshots.storeTagged(spark, name, Seq("counts", "docs"), datasetTag)

  /** Admit a batch into the model: append its bucket-count delta —
    * batch-sized work, the corpus is never re-counted. `idempotent`
    * anti-joins against `name_docs` to skip replays cheaply; even
    * without it (or when a crash landed BETWEEN the counts append and
    * the doc-guard write), a replayed identical delta is harmless — it
    * carries the same batch fingerprint and the probe dedupes on it. */
  def appendToDsirStore(spark: org.apache.spark.sql.SparkSession,
      newDocs0: DataFrame, isTarget: Column, name: String,
      idempotent: Boolean = false): Unit = {
    val buckets = Snapshots.metaRow(spark, s"${name}_meta").getInt(0)
    val newDocs = if (!idempotent) newDocs0 else newDocs0.join(
      spark.table(s"${name}_docs"), Seq("doc_id"), "left_anti").localCheckpoint()
    dsirDelta(newDocs, isTarget, buckets, batchFingerprint(newDocs, isTarget))
      .write.mode("append").saveAsTable(s"${name}_counts")
    newDocs.select("doc_id")
      .write.mode("append")
      .bucketBy(8, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
  }

  /** Score arrivals against the standing model — identical verdict to
    * fitting [[dsirWeights]]' model on the admitted corpus and scoring
    * the arrivals with it (the true DSIR deployment: reference model,
    * new data). Delta rows re-aggregate to exact counts (addition is
    * order-free), then scoring is the projection-only typedLit pass.
    * The fitted array is kept per snapshot of `name_counts`
    * ([[graft.util.Snapshots.ofTable]]): a serve over an unchanged store
    * runs no model job, and an append or compaction (new files) refits.
    * The counts table is refreshed before a refit: admission may run in
    * another session while a probe stream is live (the q138 lesson). */
  def probeDsirScore(spark: org.apache.spark.sql.SparkSession,
      arrivals: DataFrame, name: String): DataFrame = {
    val buckets = Snapshots.metaRow(spark, s"${name}_meta").getInt(0)
    val lr = Snapshots.ofTable(spark, s"dsir_lr:$buckets", s"${name}_counts") {
      spark.catalog.refreshTable(s"${name}_counts")
      fitLr(liveCounts(spark, name), buckets)
    }
    dsirScore(dsirFeatures(arrivals, lit(false), buckets), lr)
  }

  /** Sentinel batch_fp of the folded BASE rows a compaction writes —
    * genuine fingerprints are always ≥ 0 ([[batchFingerprint]]). */
  private val BaseFp = -1L

  /** Sentinel f of a TOMBSTONE row recording an absorbed batch_fp —
    * genuine bucket ids are always in [0, buckets). Tombstones live in
    * the SAME table as the counts so the fold is one atomic sibling
    * swap: there is no window where the base exists without its
    * absorbed-set or vice versa. */
  private val TombF = -1L

  /** The store's exact (f, cr, ct) counts as it stands: drop replayed
    * deltas of batches a compaction already folded (tombstone anti-join
    * — the absorbed set is batches-sized, broadcast), dedupe the live
    * deltas on (batch_fp, f) (a batch whose append raced a crash may
    * appear twice with identical rows — max() collapses them, making
    * replay idempotence independent of the doc-guard write ordering),
    * then sum deltas + base. */
  private def liveCounts(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    val all = spark.table(s"${name}_counts")
    val folded = all.filter(col("f") === TombF).select("batch_fp")
    all.filter(col("f") =!= TombF)
      .join(broadcast(folded), Seq("batch_fp"), "left_anti")
      .groupBy("batch_fp", "f")
      .agg(max("cr").as("cr"), max("ct").as("ct"))
      .groupBy("f").agg(sum("cr").as("cr"), sum("ct").as("ct"))
  }

  /** Fold the accumulated per-batch delta rows into ONE base count set
    * (batch_fp = [[BaseFp]]) plus tombstones recording every absorbed
    * fingerprint — without the fold, probe-side dedup re-reads O(batches)
    * delta rows forever. Replay idempotency SURVIVES the fold: a
    * replayed pre-compaction batch re-appends its delta rows, the probe
    * anti-joins them against the tombstone set, and the verdict is
    * unchanged (spec-pinned). One [[graft.util.BucketedStores.swapContents]]
    * sibling swap; the fold input is localCheckpoint'ed because the swap
    * drops the table it derives from. Returns (rows before, rows after). */
  def compactDsirStore(spark: org.apache.spark.sql.SparkSession,
      name: String): (Long, Long) = {
    spark.catalog.refreshTable(s"${name}_counts")
    val all = spark.table(s"${name}_counts").localCheckpoint()
    val folded = all.filter(col("f") === TombF).select("batch_fp")
    val live = all.filter(col("f") =!= TombF)
      .join(broadcast(folded), Seq("batch_fp"), "left_anti")
      .groupBy("batch_fp", "f")
      .agg(max("cr").as("cr"), max("ct").as("ct"))
    val base = live.groupBy("f")
      .agg(sum("cr").as("cr"), sum("ct").as("ct"))
      .select(lit(BaseFp).as("batch_fp"), col("f"), col("cr"), col("ct"))
    val tombs = live.filter(col("batch_fp") =!= BaseFp)
      .select("batch_fp")
      .union(folded).distinct()
      .select(col("batch_fp"), lit(TombF).as("f"),
        lit(0L).as("cr"), lit(0L).as("ct"))
    val before = all.count()
    graft.util.BucketedStores.swapContents(spark, s"${name}_counts",
      base.unionByName(tombs))
    spark.catalog.refreshTable(s"${name}_counts")
    (before, spark.table(s"${name}_counts").count())
  }
}
