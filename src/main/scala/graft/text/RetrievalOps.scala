package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics retrieval/scoring operators over the `documents`
  * table: vocabulary building, TF-IDF term weighting, BM25 query scoring,
  * and fixed-token-budget context packing — the dictionary/relevance layer
  * a training-data pipeline runs between dedup and sampling (quality
  * filtering by term salience, retrieval-based subset selection, sequence
  * packing for the trainer).
  *
  * Tokenization is the engine's shared convention: split on a single
  * space, exactly `string_split(text, ' ')` in the DuckDB oracles (see
  * queries/TextDedup.scala) — so every count here is bit-reproducible on
  * both engines. All ratio outputs are rounded to 6 decimals BEFORE any
  * ranking so an engine's last-ulp `ln` difference can't flip an order.
  *
  * Scale shapes (100 TB posture):
  *   - [[vocabulary]]/[[tfIdfTopTerms]] shuffle only (doc_id, term) count
  *     rows and a vocabulary-sized df relation; the vocabulary of a word-
  *     level corpus is ≪ corpus (millions of terms vs billions of docs),
  *     so the idf join BROADCASTS — the corpus is never re-shuffled.
  *   - [[bm25TopK]] is ONE corpus scan: per-document query-term counts are
  *     map-side array folds (no explode), the (N, Σdl, df…) statistics are
  *     a single 1-row aggregate cross-joined back as a broadcast, and the
  *     top-N is a TakeOrderedAndProject — no window, no full sort.
  *   - [[contextPack]] is integer-exact window arithmetic partitioned by
  *     the pack stream key; state per partition is one running sum.
  */
object RetrievalOps {

  private def toks: Column = split(col("text"), " ")

  /** Corpus vocabulary dictionary: per-term document frequency, corpus
    * frequency, and smoothed idf = ln((N+1)/(df+1)) + 1 — the statistic
    * stopword discovery and TF-IDF weighting read. One explode + one
    * term-keyed aggregation; N rides along as a 1-row aggregate
    * cross-joined (broadcast) so the whole dictionary is a single job
    * with no driver-side count barrier. */
  def vocabulary(docs: DataFrame): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cf"), count_distinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf",
        round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + 1.0, 6))
      .select("term", "df", "cf", "idf")
  }

  /** Top-k terms per document by smoothed TF-IDF (tf × (ln((N+1)/(df+1))+1)),
    * ties broken by term string — the per-document salience profile quality
    * filters and keyword extractors read. The rank is over the ROUNDED
    * score, identical in both engines; the per-document top-k window is the
    * exact shape the TopKPerKey physical rewrite replaces with a bounded
    * heap (no per-document sort at scale). */
  def tfIdfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    // the per-doc (term, tf) pairs come out of the scan as ONE native
    // expression, so the single doc_id exchange left on this path (the
    // rank window's) carries map-side-combined DISTINCT pairs — strictly
    // fewer bytes than either historical shape (raw-token single exchange,
    // or aggregate + window double exchange); PlanShapeSpec still counts
    // exactly one doc-keyed exchange
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.term_counts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.c").as("tf"))
    // df gets its OWN lean branch (map-side array_distinct, term-keyed
    // partial agg) — deriving it from `tf` would re-evaluate the
    // repartitioned subtree inside the broadcast side, doubling the
    // doc-keyed shuffle the repartition exists to dedupe
    val df = docs
      .select(explode(array_distinct(toks)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf
      .join(broadcast(df.crossJoin(nDocs)), "term")
      .withColumn("tfidf",
        round(col("tf") *
          (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + 1.0), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tfidf")
  }

  /** Okapi BM25 top-N documents for a fixed query-term set
    * (idf = ln(1 + (N−df+0.5)/(df+0.5)), the Robertson–Spärck Jones form;
    * k1/b are the classic free parameters). Per-document term frequencies
    * are map-side `filter(tokens)` folds — the corpus is scanned ONCE and
    * never exploded or shuffled; (N, Σdl, per-term df) is one 1-row
    * aggregate broadcast back. Scores are rounded before the global top-N
    * so ranking is engine-stable; ties break by doc_id. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k1: Double, b: Double,
      topN: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: empty query-term set")
    def tfc(t: String) = s"tf_$t"
    def dfc(t: String) = s"df_$t"
    val perDoc = docs.select(
      col("doc_id") +: size(toks).cast("long").as("dl") +:
        terms.map(t =>
          size(filter(toks, x => x === lit(t))).cast("long").as(tfc(t))): _*)
    val statExprs =
      sum(size(toks).cast("long")).as("sum_dl") +:
        terms.map(t => sum(array_contains(toks, t).cast("long")).as(dfc(t)))
    val stats = docs.agg(count(lit(1)).as("n_docs"), statExprs: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val score = terms.map { t =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(dfc(t)) + lit(0.5)) / (col(dfc(t)) + lit(0.5)))
      idf * (col(tfc(t)) * (k1 + 1.0)) /
        (col(tfc(t)) + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    }.reduce(_ + _)
    perDoc
      .crossJoin(broadcast(stats))
      .withColumn("score", round(score, 6))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
      .select("doc_id", "dl", "score")
  }

  /** BM25 for a BATCH of query documents — [[bm25TopK]]'s literal-terms
    * form generalized to the inverted-index shape a retrieval pipeline
    * needs when the queries are themselves rows: per-corpus-doc (term,
    * tf) counts join the (query_id, distinct term) relation, so only
    * postings matching some query term survive the (broadcast) join.
    * Same scoring expression as q79, with each (query, doc, term)
    * contribution quantized int64 ×1e9 BEFORE the per-(query, doc) sum —
    * relational summation has no fixed fold order, so the house exact-
    * aggregate rule applies where q79's single-row fold didn't need it.
    * Self-hits are excluded; ranks are (score desc, doc_id asc). */
  def bm25PerQuery(docs: DataFrame, queryPred: Column, k1: Double,
      b: Double, k: Int): DataFrame = {
    // per-doc term frequencies come out of the scan stage as ONE native
    // expression (distinct (term, c) pairs — no (doc, term) aggregation
    // exchange), then ONE explicit doc_id repartition: it parallelizes
    // everything downstream of a possibly-few-split scan AND satisfies the
    // final (query_id, doc_id) aggregation by the clustering-subset rule,
    // so the whole pipeline pays a single doc-keyed exchange of
    // map-side-combined pairs (the old aggregate shape paid that exchange
    // on RAW token occurrences, then a second one for the per-query sums —
    // SCALE.md "Round-14 late: term_counts kernel" has the A/B: 1.28 /
    // 3.84-without-repartition / 1.22 s)
    val tf = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(graft.functions.TextExprs.term_counts(col("text"))).as("tc"))
      .select(col("doc_id"), col("dl"),
        col("tc.term").as("term"), col("tc.c").as("tf"))
      .repartition(col("doc_id"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val sized = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val stats = sized.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = docs.filter(queryPred)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(toks)).as("term"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val contrib =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * (k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    tf
      .join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("c_fp", round(contrib * 1e9, 0).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("c_fp")).cast("double") / 1e9, 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
  }

  /** HYBRID retrieval by reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009): fuse the lexical [[bm25PerQuery]] list and the semantic
    * cosine top-k list for the same query documents as
    * rrf(d) = Σ_lists 1/(rrfK + rank_list(d)) — the rank-only combiner
    * every hybrid-search pipeline runs because it needs no score
    * calibration between BM25 and cosine space. Deterministic: both
    * input rankings are round-before-rank deterministic, the fused
    * score is a fixed two-term expression rounded to 6 dp, ties to the
    * lowest doc id. Scale shape: both lists are (queries × k)-sized —
    * the fusion join is trivially broadcastable regardless of corpus. */
  def hybridTopK(lex: DataFrame, sem: DataFrame, rrfK: Int,
      kOut: Int): DataFrame = {
    val l = lex.select(col("query_id"), col("doc_id"),
      col("rank").as("r_lex"))
    val s = sem.select(col("query_id"), col("neighbor_id").as("doc_id"),
      col("rank").as("r_sem"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    l.join(s, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_sem")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kOut)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("rrf"))
  }

  /** Temperature-scaled MIXING WEIGHTS per stratum (the mT5/XLM-R
    * multilingual sampling recipe): p_l = tokens_l/Σtokens, mix_l ∝
    * p_l^α, and boost = mix_l/p_l — the factor each language's sampler
    * applies so low-resource strata are up-sampled (α < 1 flattens the
    * distribution; α = 1 is proportional, α = 0 uniform). The p^α
    * values are quantized to int64 ×1e12 BEFORE the normalizing sum
    * (the house exact-aggregate rule) so weights are order-free.
    *
    * Scale shape: one stratum-keyed aggregate (map-side partial), then
    * strata-sized (≤ dozens of rows) broadcast cross-joins — nothing
    * data-sized moves after the first exchange. */
  def mixWeights(docs: DataFrame, strataCol: String, alpha: Double): DataFrame = {
    val perStratum = docs
      .groupBy(strataCol)
      .agg(sum(size(toks)).cast("long").as("tokens"))
    val total = perStratum.agg(sum(col("tokens")).as("t_total"))
    val scored = perStratum.crossJoin(broadcast(total))
      .withColumn("p", col("tokens").cast("double") / col("t_total"))
      .withColumn("pow_fp", round(pow(col("p"), alpha) * 1e12, 0).cast("long"))
    val powSum = scored.agg(sum(col("pow_fp")).as("pow_total"))
    scored.crossJoin(broadcast(powSum))
      .select(
        col(strataCol), col("tokens"),
        round(col("p"), 6).as("p"),
        round(col("pow_fp").cast("double") / col("pow_total"), 6).as("mix_weight"),
        round(col("pow_fp").cast("double") / col("pow_total") / col("p"), 6)
          .as("boost"))
  }

  /** PMI COLLOCATIONS: the corpus's top bigram associations by pointwise
    * mutual information — ln((c₂/B) / ((c₁ₐ/T)(c₁ᵦ/T))) over adjacent
    * token pairs, the statistic phrase/vocab induction reads to decide
    * which token pairs deserve a merged entry. `minCount` floors the
    * bigram count (PMI of a once-seen pair is pure noise); ranking is by
    * the ROUNDED score (engine-ulp-proof) with (w1, w2) tiebreak.
    *
    * Scale shape: bigrams are a per-document zip (no self-join); the two
    * aggregates shuffle vocabulary²-bounded bigram counts and
    * vocabulary-sized unigram counts; unigram counts and the (T, B)
    * totals join back as broadcasts; the global top-N is a
    * TakeOrderedAndProject. */
  def pmiCollocations(docs: DataFrame, minCount: Long, topN: Int): DataFrame = {
    val t = toks
    val pairs = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bi = docs.select(explode(pairs).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val uni = docs.select(explode(t).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c1"))
    val totals = docs.agg(
      sum(size(t)).cast("long").as("t_total"),
      sum(greatest(size(t) - 1, lit(0))).cast("long").as("b_total"))
    bi
      .filter(col("n") >= minCount)
      .join(broadcast(uni.select(col("term").as("w1"), col("c1").as("c1a"))), "w1")
      .join(broadcast(uni.select(col("term").as("w2"), col("c1").as("c1b"))), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(
        log((col("n").cast("double") / col("b_total")) /
          ((col("c1a").cast("double") / col("t_total")) *
            (col("c1b").cast("double") / col("t_total")))), 6))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
      .select("w1", "w2", "n", "pmi")
  }

  /** Per-document UNIGRAM PERPLEXITY under the corpus's own maximum-
    * likelihood unigram model — the CCNet-style quality signal (a
    * document of corpus-typical tokens scores low; rare-token soup
    * scores high). ppl(d) = exp(−(Σ_t ln p(t)) / n_d) with
    * p(t) = cf(t)/T over the whole corpus.
    *
    * Determinism: per-token ln p is quantized to fixed-point int64
    * (×1e9) BEFORE summation, so the per-document sum is exact and
    * aggregation-order-free (the house rule every checked aggregate
    * follows); only the final exp/divide is double math, rounded to 6.
    *
    * Scale shape: one explode + a broadcast join against the
    * vocabulary-sized (term → ln p) relation; tokens of a document stay
    * in their scan partition, so the doc_id hash aggregate is map-side
    * partial — the exchange carries one row per DOCUMENT, not per token. */
  def unigramPerplexity(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(toks).as("term"))
    val cf = tok.groupBy("term").agg(count(lit(1)).as("cf"))
    val total = tok.agg(count(lit(1)).as("t_total"))
    val lnp = cf.crossJoin(total).select(
      col("term"),
      round(log(col("cf").cast("double") / col("t_total")) * 1e9, 0)
        .cast("long").as("lnp_fp"))
    tok
      .join(broadcast(lnp), "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lnp_fp")).as("s_fp"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(exp(-(col("s_fp").cast("double") / 1e9) / col("n_tokens")), 6)
          .as("ppl"))
  }

  /** Unigram-distribution DRIFT between a reference slice and a current
    * slice, per language: KL(q‖p) over the union vocabulary with add-one
    * smoothing — p from the reference counts, q from the current counts,
    * both smoothed as (cf+1)/(T+V) so unseen-on-either-side terms stay
    * finite. The corpus-QA statistic a pipeline watches to catch a source
    * changing under it (new crawl snapshot, encoding regression, topic
    * shift) before the model does.
    *
    * Determinism: each union-vocab term's contribution
    * q(w)·ln(q(w)/p(w)) is computed in IEEE double identically on both
    * engines and quantized to int64 ×1e12 BEFORE the per-language sum
    * (the q82 discipline), so the aggregate is exact and order-free.
    *
    * Scale shape: two vocabulary-sized count aggregations, one FULL
    * OUTER join on (lang, term) — vocabulary-sized, the only exchange —
    * and language-sized totals broadcast back. Nothing corpus-sized
    * moves after the token counts. */
  def unigramDrift(docs: DataFrame, refPred: Column): DataFrame = {
    val tok = docs.select(col("lang"), explode(toks).as("term"),
      refPred.as("is_ref"))
    val refCf = tok.filter(col("is_ref"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cf_ref"))
    val curCf = tok.filter(!col("is_ref"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cf_cur"))
    val joined = refCf.join(curCf, Seq("lang", "term"), "full_outer")
      .select(col("lang"), col("term"),
        coalesce(col("cf_ref"), lit(0L)).as("cf_ref"),
        coalesce(col("cf_cur"), lit(0L)).as("cf_cur"))
    val totals = joined.groupBy("lang").agg(
      sum(col("cf_ref")).as("t_ref"), sum(col("cf_cur")).as("t_cur"),
      count(lit(1)).as("v_union"))
    joined
      .join(broadcast(totals), "lang")
      .withColumn("p", (col("cf_ref").cast("double") + 1.0) /
        (col("t_ref") + col("v_union")).cast("double"))
      .withColumn("q", (col("cf_cur").cast("double") + 1.0) /
        (col("t_cur") + col("v_union")).cast("double"))
      .withColumn("term_fp",
        round(col("q") * log(col("q") / col("p")) * 1e12, 0).cast("long"))
      .groupBy("lang")
      .agg(max(col("t_ref")).as("t_ref"), max(col("t_cur")).as("t_cur"),
        max(col("v_union")).as("v_union"),
        sum(col("term_fp")).as("s_fp"))
      .select(col("lang"), col("t_ref"), col("t_cur"), col("v_union"),
        round(col("s_fp").cast("double") / 1e12, 6).as("kl"))
  }

  /** Bigram "stupid backoff" LM scoring of HELD-OUT documents (Brants et
    * al., "Large language models in machine translation", EMNLP 2007 —
    * the web-scale scoring recipe: no discounting to estimate, just a
    * fixed backoff penalty): the model slice contributes unigram counts
    * cf(w), bigram counts bf(w1,w2), and (T, V); each held-out adjacent
    * pair scores ln(bf/cf(w1)) when the bigram was seen, else
    * ln(0.4) + ln((cf(w2)+1)/(T+V)) (backoff to the add-one unigram).
    * Each pair's ln is quantized to int64 ×1e9 BEFORE the per-doc sum
    * (the q82 discipline — exact, order-free), then ppl =
    * exp(−mean ln p), rounded 6 dp.
    *
    * Scale shape: pairs are the per-doc zip (no self-join); the bigram
    * model is model-sized and joins by (w1, w2) key — the ONE honest
    * shuffle (a web-scale bigram table cannot broadcast); unigram counts
    * and (T, V) are vocabulary-sized/1-row broadcasts. Scoring held-out
    * docs against a DISJOINT model slice is what makes the backoff
    * branch live — a model scored on its own corpus never backs off. */
  def bigramBackoffScore(docs: DataFrame, modelPred: Column): DataFrame = {
    val model = docs.filter(modelPred)
    val held = docs.filter(!modelPred)
    val mtok = model.select(explode(toks).as("w"))
    val cf = mtok.groupBy("w").agg(count(lit(1)).as("cf"))
    val stats = mtok.agg(count(lit(1)).as("t_total"),
      countDistinct(col("w")).as("v_size"))
    def pairsOf(d: DataFrame) = d
      .select(col("doc_id"), explode(expr(
        """zip_with(
          |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bf = pairsOf(model).groupBy("w1", "w2").agg(count(lit(1)).as("bf"))
    pairsOf(held)
      .join(bf, Seq("w1", "w2"), "left")
      .join(broadcast(cf.select(col("w").as("w1"), col("cf").as("cf1"))),
        Seq("w1"), "left")
      .join(broadcast(cf.select(col("w").as("w2"), col("cf").as("cf2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lnp_fp",
        when(col("bf").isNotNull,
          round(log(col("bf").cast("double") / col("cf1").cast("double")) * 1e9, 0)
            .cast("long"))
        .otherwise(
          round(log(lit(0.4)) * 1e9, 0).cast("long") +
          round(log((coalesce(col("cf2"), lit(0L)).cast("double") + 1.0) /
            (col("t_total") + col("v_size")).cast("double")) * 1e9, 0)
            .cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("lnp_fp")).as("s_fp"))
      .select(col("doc_id"), col("n_pairs"),
        round(exp(-(col("s_fp").cast("double") / 1e9) / col("n_pairs")), 6)
          .as("ppl"))
  }

  /** Fixed-token-budget CONTEXT PACKING: stream documents in doc_id order
    * within each pack key (language here), assign each document the pack
    * whose window its first token falls in — pack_id = ⌊excl-cumsum /
    * budget⌋ — and record the start offset inside that pack. This is the
    * streaming sequence-packing discipline (documents may straddle a pack
    * boundary; the trainer trims or wraps the tail), all integer-exact:
    * no float anywhere, so the layout is bit-stable on any engine.
    *
    * Scale shape: one window cumsum per pack-stream partition. A single
    * global stream would serialize, and |langs| streams bound parallelism
    * at |langs| — so `numShards > 1` splits every language into
    * `doc_id % numShards` sub-streams (a pure function of the row, like
    * the hash-split operator: layout reproducible on any engine, any
    * partitioning), each with its own independent cumsum. Parallelism is
    * then |langs| × numShards; a pack is addressed by (lang, shard,
    * pack_id). numShards = 1 keeps the single-stream layout and schema
    * (no shard column). */
  def contextPack(docs: DataFrame, budgetTokens: Long,
      numShards: Int = 1): DataFrame = {
    require(budgetTokens > 0, "contextPack: budget must be positive")
    require(numShards > 0, "contextPack: numShards must be positive")
    val sharded = numShards > 1
    val keyCols = Seq(col("doc_id"), col("lang")) ++
      (if (sharded) Seq(pmod(col("doc_id"), lit(numShards.toLong)).as("shard"))
       else Nil)
    val streamKeys = if (sharded) Seq("lang", "shard") else Seq("lang")
    val outKeys = Seq("doc_id", "lang") ++ (if (sharded) Seq("shard") else Nil)
    val w = Window.partitionBy(streamKeys.map(col): _*).orderBy("doc_id")
    docs
      .select(keyCols :+ size(toks).cast("long").as("tokens"): _*)
      .withColumn("start", sum(col("tokens")).over(w) - col("tokens"))
      .select(outKeys.map(col) ++ Seq(
        col("tokens"),
        // `div` = integer division on longs: exact at any cumsum
        // magnitude, where a double round-trip would wobble past 2^53
        expr(s"start div $budgetTokens").as("pack_id"),
        (col("start") % budgetTokens).as("pack_offset")): _*)
  }

  /** Top-k terms by corpus frequency through a bounded-memory Space-Saving
    * sketch (functions/SpaceSaving.scala) — the heavy-hitters scale path
    * for the dictionary statistic. Where [[vocabulary]] shuffles one row
    * per distinct term (unbounded at URL/n-gram cardinality), this is ONE
    * global aggregate whose partials are fixed `capacity`-counter
    * summaries: communication O(capacity × partitions), no term-keyed
    * exchange. Exact (err = 0, hash-matches the exact top-k oracle)
    * while distinct terms <= capacity; bounded-error otherwise. */
  def heavyHitters(docs: DataFrame, capacity: Int, k: Int): DataFrame =
    docs
      .agg(graft.functions.SpaceSaving
        .space_saving_topk(toks, capacity).as("top"))
      // native TypedImperativeAggregate (house form): token arrays are
      // read in place from Tungsten — no Dataset-encoder decode per row
      .select(posexplode(col("top")).as(Seq("pos", "item")))
      .where(col("pos") < k)
      .select(
        (col("pos") + 1).cast("long").as("rank"),
        col("item.term").as("term"),
        col("item.est_cf").as("est_cf"),
        col("item.err").as("err"))

  /** The interpolated-KN probability as ONE shared expression string over
    * exact integer columns (bf, c1, n1l, n1r, tt, v_size) — both engines
    * execute the identical IEEE-754 op sequence, so ln p quantizes to the
    * same int64 on both sides (the q158/q162 shared-string discipline). */
  private[graft] val knPContStr =
    "((CAST(COALESCE(n1r, 0) AS DOUBLE) + CAST(1 AS DOUBLE)) / " +
      "(CAST(tt AS DOUBLE) + CAST(v_size AS DOUBLE) + CAST(1 AS DOUBLE)))"
  private[graft] val knPStr =
    "CASE WHEN c1 IS NOT NULL THEN " +
      "(GREATEST(CAST(COALESCE(bf, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), " +
      "CAST(0 AS DOUBLE)) + " +
      s"CAST(0.75 AS DOUBLE) * CAST(n1l AS DOUBLE) * $knPContStr) " +
      s"/ CAST(c1 AS DOUBLE) ELSE $knPContStr END"

  /** Interpolated Kneser–Ney bigram scoring of HELD-OUT documents (Kneser
    * & Ney 1995; the interpolated form of Chen & Goodman 1999 with the
    * fixed discount D = 0.75): a pair with a seen context w1 scores
    *
    *   p(w2|w1) = (max(c(w1,w2) − D, 0) + D · N1+(w1,·) · p_cont(w2)) / c(w1)
    *
    * and an unseen context falls back to the continuation distribution
    * itself. The continuation probability counts context TYPES, not
    * tokens — p_cont(w2) ∝ N1+(·,w2) — the KN insight that a word seen
    * often but only after one context ("Francisco") should carry little
    * novel-context mass. The type space is add-one smoothed,
    * p_cont = (N1+(·,w2)+1)/(T+V+1), so held-out OOVs stay scoreable —
    * the same role q98's add-one unigram plays in stupid backoff.
    *
    * Every count is an exact BIGINT derived from ONE bigram-type relation
    * (c(w1) = Σ_w2 c(w1,w2) and N1+(w1,·) fall out of a groupBy over it,
    * N1+(·,w2) of another, T of a 1-row count); the probability is the
    * single shared double expression [[knPStr]], quantized ×1e9 per pair
    * BEFORE the per-doc sum (the q82/q98 order-free discipline), and
    * ppl = exp(−mean ln p) rounded 6 dp.
    *
    * Scale shape: like [[bigramBackoffScore]], the bigram model is the one
    * honest (w1,w2)-keyed shuffle; the context relation (c1, n1l), the
    * right-type relation (n1r), and the two totals are vocabulary-sized /
    * 1-row broadcasts. The bigram-type relation feeds four consumers, so
    * it is pinned once — a MODEL-sized pin (the trained LM itself, the
    * table a production pipeline materializes anyway; at the 10⁹-type
    * wall it becomes a stored standing model, the q143 road). */
  def kneserNeyScore(docs: DataFrame, modelPred: Column): DataFrame = {
    val model = docs.filter(modelPred)
    val held = docs.filter(!modelPred)
    val vSize = model.select(explode(toks).as("w"))
      .agg(countDistinct(col("w")).as("v_size"))
    val bf = knPairs(model).groupBy("w1", "w2").agg(count(lit(1)).as("bf"))
      .localCheckpoint()
    knScore(knPairs(held), bf, vSize)
  }

  /** (doc_id, w1, w2) adjacent-token pairs — the bigram event stream. */
  private[text] def knPairs(d: DataFrame): DataFrame = d
    .select(col("doc_id"), explode(expr(
      """zip_with(
        |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
        |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
        |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("p"))
    .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Score held-out (doc_id, w1, w2) pairs against a (w1, w2, bf) bigram
    * model plus a 1-row v_size relation — the KN projection shared by the
    * one-shot fit above and the standing-store serve (q198). Every model
    * aggregate (c1, n1l, n1r, T) derives from the bf relation itself. */
  private[graft] def knScore(heldPairs: DataFrame, bf: DataFrame,
      vSize: DataFrame): DataFrame = {
    val cl = bf.groupBy("w1")
      .agg(sum("bf").as("c1"), count(lit(1)).as("n1l"))
    val nr = bf.groupBy("w2").agg(count(lit(1)).as("n1r"))
    val tb = bf.agg(count(lit(1)).as("tt"))
    heldPairs
      .join(bf, Seq("w1", "w2"), "left")
      .join(broadcast(cl), Seq("w1"), "left")
      .join(broadcast(nr), Seq("w2"), "left")
      .crossJoin(broadcast(tb))
      .crossJoin(broadcast(vSize))
      .selectExpr("doc_id",
        s"CAST(round(ln($knPStr) * 1e9, 0) AS BIGINT) AS lnp_fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("lnp_fp")).as("s_fp"))
      .select(col("doc_id"), col("n_pairs"),
        round(exp(-(col("s_fp").cast("double") / 1e9) / col("n_pairs")), 6)
          .as("ppl"))
  }
}
