package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.util.Snapshots

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard.
  *
  * Determinism: MinHash uses the affine family h_j(x) = (a_j·x + b_j)
  * mod P (large pairwise-independent multipliers, TextExprs.minHashSig)
  * over TextOps.polyHash shingle hashes — fixed constants, pure int64
  * arithmetic, reproducible in any engine. SimHash is a 32-bit sign
  * aggregate of token hashes. No RNG anywhere.
  *
  * Scale notes (100 TB):
  *  - exact dedup = one hash-shuffle on the text hash (group keys are 8-byte
  *    ints, not full texts);
  *  - MinHash: signatures are a per-doc aggregation (shuffle by doc_id —
  *    or none if docs are already hash-partitioned); the LSH band self-join
  *    shuffles only (band, bandkey) buckets, whose sizes are the candidate
  *    sets — the whole point of LSH is that this join is near-linear.
  *    Jaccard verification touches candidate pairs only.
  *  - exact all-pairs Jaccard keeps the inverted-index join: cost is
  *    Σ_shingle df² — at web scale you cap df (drop boilerplate shingles
  *    whose df exceeds a threshold) before the self-join; the cap is an
  *    explicit argument so the trade-off is visible, not silent.
  */
object DedupOps {

  val P = TextOps.P

  /** Exact dedup: one row per distinct text with the kept (minimum) doc_id
    * and the duplicate-group size. Grouping key is the text itself here for
    * oracle exactness; at scale group by the 64-bit text hash first and
    * re-verify texts only inside colliding groups. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** MinHash signatures: doc_id × j(0..k-1) → min over the doc's shingle
    * hashes of (a_j·h + b_j) mod P, the large-multiplier affine family of
    * TextExprs.minHashSig (see its scaladoc for why the original
    * small-multiplier family collapsed the bands). All k mins are computed
    * in ONE aggregation pass (k agg columns, no k× row explosion —
    * map-side partial aggregation sees each shingle once), then stacked to
    * long form for banding. */
  def minhashSignatures(shingles: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map { j =>
      val a = (654435747L * (j + 1)) % P
      val b = (1779033703L * (2L * j + 1)) % P
      min(expr(s"(${a}L * h + ${b}L) % ${P}L")).as(s"__mh$j")
    }
    val stackArgs = (0 until k).map(j => s"${j}L, __mh$j").mkString(", ")
    shingles
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("doc_id", s"stack($k, $stackArgs) AS (j, mh)")
  }

  /** LSH bands: group the k-length signature into bands of `rowsPerBand`,
    * combining each band's minhashes into one int64 key via fixed radix-31
    * weights (order-independent sum — safe under any aggregation order). */
  def lshBands(sig: DataFrame, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand <= 4, "radix-31 band key supports <= 4 rows/band in int64")
    sig
      .groupBy(col("doc_id"), expr(s"j div $rowsPerBand").as("band"))
      .agg(sum(expr(s"mh * element_at(array(1L, 31L, 961L, 29791L), CAST((j % $rowsPerBand) + 1 AS INT))"))
        .as("bkey"))
  }

  /** Candidate pairs (doc_a < doc_b) sharing at least one LSH band bucket. */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact-Jaccard verify for candidate pairs against a (doc_id, sh)
    * shingle-ARRAY relation: intersect the two arrays per pair (hash-probe
    * of the smaller side), score over the FULL sets, keep >= threshold.
    * Shared by the LSH, capped, and prefix-filtered paths. */
  private def scorePairs(cands: DataFrame, withSh: DataFrame,
      threshold: Double): DataFrame = {
    import graft.functions.TextExprs
    val aSh = withSh.select(col("doc_id").as("doc_a"), col("sh").as("__sha"),
      size(col("sh")).cast("long").as("__na"))
    val bSh = withSh.select(col("doc_id").as("doc_b"), col("sh").as("__shb"),
      size(col("sh")).cast("long").as("__nb"))
    cands.join(aSh, "doc_a").join(bSh, "doc_b")
      .withColumn("__common", TextExprs.intersect_size(col("__sha"), col("__shb")))
      .withColumn("jaccard", col("__common").cast("double") /
        (col("__na") + col("__nb") - col("__common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact Jaccard over the shingle-hash sets for given candidate pairs. */
  def jaccardOf(cands: DataFrame, shingles: DataFrame): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val s1 = shingles.select(col("doc_id").as("doc_a"), col("h"))
    val s2 = shingles.select(col("doc_id").as("doc_b"), col("h"))
    cands
      .join(s1, "doc_a").join(s2, Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
  }

  /** MinHash-LSH near-dup pairs: LSH candidates, then exact-Jaccard verify
    * at `threshold`. k-shingle words, `numHashes` hash functions, bands of
    * `rowsPerBand`.
    *
    * Physical plan: ONE pass over each document builds its distinct
    * shingle-hash array; signature and band keys are further per-row native
    * expressions (min over a multiset = min over its set, so no dedup is
    * even needed there). The only shuffles left are the (band, bkey)
    * self-join — the LSH point: bucket sizes ARE the candidate sets — and
    * the two doc_id-keyed verify joins, whose probe side is candidate
    * pairs only. Jaccard verification intersects the two shingle ARRAYS
    * directly (hash-set probe of the smaller side) instead of re-exploding
    * an inverted index. The groupBy-based spec forms (minhashSignatures /
    * lshBands / jaccardOf) stay as the oracle-mirrored formulation, pinned
    * equal by NativeTextSpec. */
  def minhashDupPairs(
      docs: DataFrame, shingleK: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    import graft.functions.TextExprs
    val withSh = docs
      .select(col("doc_id"), TextExprs.shingle_hash_set(col("text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    val bands = withSh
      .select(col("doc_id"),
        posexplode(TextExprs.lsh_band_keys(
          TextExprs.min_hash_sig(col("sh"), numHashes), rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
    scorePairs(lshCandidates(bands), withSh, threshold)
  }

  /** INCREMENTAL dedup admission: judge each INCREMENT document against
    * the EXISTING corpus only — the production ingest shape (a nightly
    * batch lands against a standing corpus; re-pairing the whole world
    * per arrival would be O(corpus²) forever):
    *
    *   - exact: increment semi-joins the corpus on raw text (same
    *     equality [[exactDedup]]'s oracle uses);
    *   - near: LSH band keys for BOTH sides, but the candidate join is
    *     increment→corpus only — never corpus×corpus — then exact
    *     Jaccard over the full shingle sets at `threshold`, reporting
    *     the LOWEST matching corpus doc as `near_dup_of`.
    *
    * One verdict row per increment doc: (doc_id, exact_dup, near_dup_of
    * nullable, keep = neither). Scale shape: the corpus band index is a
    * one-time build (persist it bucketed by (band, bkey) and each
    * increment's probe is a co-located join); the increment side is
    * batch-sized, so every per-arrival cost is O(increment × bucket
    * overlap), not corpus-quadratic. */
  def incrementalDedup(corpus: DataFrame, increment: DataFrame,
      shingleK: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    import graft.functions.TextExprs
    def withSh(d: DataFrame) = d
      .select(col("doc_id"),
        TextExprs.shingle_hash_set(col("text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    def bandsOf(d: DataFrame) = withSh(d)
      .select(col("doc_id"),
        posexplode(TextExprs.lsh_band_keys(
          TextExprs.min_hash_sig(col("sh"), numHashes), rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
    val exact = increment
      .join(corpus.select(col("text")), Seq("text"), "left_semi")
      .select(col("doc_id"), lit(true).as("__ex"))
    val cands = bandsOf(increment).withColumnRenamed("doc_id", "inc_id")
      .join(bandsOf(corpus).withColumnRenamed("doc_id", "corp_id"),
        Seq("band", "bkey"))
      .select("inc_id", "corp_id").distinct()
    val incSh = withSh(increment).select(col("doc_id").as("inc_id"),
      col("sh").as("__shi"), size(col("sh")).cast("long").as("__ni"))
    val corSh = withSh(corpus).select(col("doc_id").as("corp_id"),
      col("sh").as("__shc"), size(col("sh")).cast("long").as("__nc"))
    val near = cands
      .join(incSh, "inc_id").join(corSh, "corp_id")
      .withColumn("__common",
        TextExprs.intersect_size(col("__shi"), col("__shc")))
      .filter(col("__common").cast("double") /
        (col("__ni") + col("__nc") - col("__common")) >= threshold)
      .groupBy("inc_id").agg(min(col("corp_id")).as("near_dup_of"))
    increment.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near.withColumnRenamed("inc_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__ex"), lit(false)).as("exact_dup"),
        col("near_dup_of"),
        (col("__ex").isNull && col("near_dup_of").isNull).as("keep"))
  }

  // ---- standing band index ------------------------------------------------

  /** Per-doc distinct shingle-hash sets: (doc_id, sh: array<long>). */
  private def shingleSets(docs: DataFrame, shingleK: Int): DataFrame = {
    import graft.functions.TextExprs
    docs
      .select(col("doc_id"),
        TextExprs.shingle_hash_set(col("text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** LSH band relation of a shingle-set relation: (doc_id, band, bkey). */
  private def bandRelation(withSh: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    import graft.functions.TextExprs
    withSh
      .select(col("doc_id"),
        posexplode(TextExprs.lsh_band_keys(
          TextExprs.min_hash_sig(col("sh"), numHashes), rowsPerBand)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
  }

  /** Build the STANDING corpus index for incremental dedup — the one-time
    * cost that [[incrementalDedup]]'s scaladoc promises and [[probeBandIndex]]
    * cashes in: per-arrival batches then probe precomputed, co-located
    * relations instead of re-shingling and re-banding the whole corpus on
    * every call.
    *
    * Three bucketed tables under `name_*` at `location` (on a cluster this
    * is a shared filesystem path; bucket layout IS the co-location):
    *   - `name_bands`  (band, bkey, corp_id)  bucketed by (band, bkey):
    *     the LSH candidate join needs zero Exchange on this side;
    *   - `name_docs`   (corp_id, sh, n)       bucketed by corp_id:
    *     the Jaccard-verify join needs zero Exchange on this side;
    *   - `name_texts`  (thash, text)          bucketed by thash:
    *     the exact-dup semi-join (on xxhash64 first, full text to close
    *     collisions) needs zero Exchange on this side;
    * plus `name_meta` pinning (shingle_k, num_hashes, rows_per_band) so a
    * probe can never silently use different LSH parameters than the build.
    *
    * 100 TB: the build is one corpus pass (the same work ONE
    * incrementalDedup call already did); every subsequent batch skips it.
    * Incremental MAINTENANCE (appending admitted docs to the index) is a
    * partition-append of the same three relations. */
  def buildBandIndex(spark: SparkSession, corpus: DataFrame, name: String,
      shingleK: Int, numHashes: Int, rowsPerBand: Int,
      location: String, buckets: Int = 32,
      datasetTag: String = ""): Unit = {
    import spark.implicits._
    val sh = shingleSets(corpus, shingleK)
    bandRelation(sh, numHashes, rowsPerBand)
      .select(col("band"), col("bkey"), col("doc_id").as("corp_id"))
      .write.mode("overwrite").option("path", s"$location/bands")
      .bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .saveAsTable(s"${name}_bands")
    sh.select(col("doc_id").as("corp_id"), col("sh"),
        size(col("sh")).cast("long").as("n"))
      .write.mode("overwrite").option("path", s"$location/docs")
      .bucketBy(buckets, "corp_id").sortBy("corp_id")
      .saveAsTable(s"${name}_docs")
    corpus.select(xxhash64(col("text")).as("thash"), col("text"))
      .write.mode("overwrite").option("path", s"$location/texts")
      .bucketBy(buckets, "thash").sortBy("thash")
      .saveAsTable(s"${name}_texts")
    Seq((shingleK, numHashes, rowsPerBand, buckets, datasetTag))
      .toDF("shingle_k", "num_hashes", "rows_per_band", "buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether a standing index `name` exists AND was built from
    * `datasetTag` — the probe-time guard against a 32-bit name collision
    * or a cleaned tmpdir location: a missing table, an unreadable meta
    * (e.g. the backing files were removed under a long-lived session), or
    * a tag mismatch all answer false, telling the caller to (re)build
    * rather than probe a wrong-scale index. */
  def bandIndexMatches(spark: SparkSession, name: String,
      datasetTag: String): Boolean =
    Snapshots.storeTagged(spark, name, Seq("bands", "docs", "texts"), datasetTag)

  /** Incremental MAINTENANCE of a standing [[buildBandIndex]] index:
    * append a batch of newly ADMITTED documents (the `keep = true` rows a
    * [[probeBandIndex]] pass let through) to all three relations — each
    * write is a bucket-aligned append of batch-sized data, so the corpus
    * is never re-shingled and the index never rebuilt. After the append,
    * probes see the union corpus exactly as if the index had been built
    * from scratch (spec-pinned).
    *
    * `idempotent = true` guards against at-least-once replay (the
    * foreachBatch contract): the batch anti-joins on doc_id against the
    * standing `name_docs` ids before writing, so a batch retried after a
    * successful append inserts nothing. The join's index side reads one
    * column of the corp_id-bucketed docs table with zero exchange (the
    * batch side shuffles to the bucket count); callers that can rule out
    * replay (a pure batch loop) keep the default and skip the scan. */
  def appendToBandIndex(spark: SparkSession, newDocs0: DataFrame,
      name: String, idempotent: Boolean = false): Unit = {
    val meta = Snapshots.metaRow(spark, s"${name}_meta")
    val (shingleK, numHashes, rowsPerBand, buckets) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getInt(3))
    // the guard must evaluate ONCE, against the PRE-append index: the three
    // table writes below append to name_docs midway, and a lazy anti-join
    // re-read by the texts write would then filter the batch against its
    // own docs append — localCheckpoint pins the pre-append verdict
    val newDocs = if (!idempotent) newDocs0 else newDocs0.join(
      spark.table(s"${name}_docs").select(col("corp_id").as("doc_id")),
      Seq("doc_id"), "left_anti").localCheckpoint()
    val sh = shingleSets(newDocs, shingleK)
    bandRelation(sh, numHashes, rowsPerBand)
      .select(col("band"), col("bkey"), col("doc_id").as("corp_id"))
      .write.mode("append")
      .bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .saveAsTable(s"${name}_bands")
    sh.select(col("doc_id").as("corp_id"), col("sh"),
        size(col("sh")).cast("long").as("n"))
      .write.mode("append")
      .bucketBy(buckets, "corp_id").sortBy("corp_id")
      .saveAsTable(s"${name}_docs")
    newDocs.select(xxhash64(col("text")).as("thash"), col("text"))
      .write.mode("append")
      .bucketBy(buckets, "thash").sortBy("thash")
      .saveAsTable(s"${name}_texts")
  }

  /** Probe a standing [[buildBandIndex]] index with an arriving batch.
    * Verdict rows are IDENTICAL to
    * `incrementalDedup(corpus, increment, …)` — pinned by spec — but the
    * corpus-side work is a scan of the prebuilt relations: nothing
    * re-shingles, re-minhashes, or re-bands the corpus, and each of the
    * three corpus-side joins is either broadcast-probed (batch-sized
    * increment: the index side streams with NO exchange at all) or
    * bucket-co-located (large increment: only the increment side shuffles,
    * to the bucket count). Per-batch cost is O(increment) compute plus a
    * columnar scan of index relations — flat as the corpus grows, where
    * the re-banding path grows linearly in corpus CPU. */
  /** The verified near-dup PAIRS an increment makes against a standing
    * [[buildBandIndex]] index: (inc_id, corp_id) with exact Jaccard ≥
    * `threshold` — the full edge relation (not the per-doc min verdict),
    * the input incremental CLUSTER maintenance needs. Same probe shape as
    * [[probeBandIndex]]: candidates from the prebuilt band relation,
    * verification against the prebuilt shingle-set relation, nothing
    * corpus-side recomputed. */
  def probeBandIndexPairs(spark: SparkSession, increment: DataFrame,
      name: String, threshold: Double): DataFrame = {
    import graft.functions.TextExprs
    val meta = Snapshots.metaRow(spark, s"${name}_meta")
    val (shingleK, numHashes, rowsPerBand) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val incSh = shingleSets(increment, shingleK)
    val cands = bandRelation(incSh, numHashes, rowsPerBand)
      .withColumnRenamed("doc_id", "inc_id")
      .join(spark.table(s"${name}_bands"), Seq("band", "bkey"))
      .select("inc_id", "corp_id").distinct()
    val incKeyed = incSh.select(col("doc_id").as("inc_id"),
      col("sh").as("__shi"), size(col("sh")).cast("long").as("__ni"))
    cands
      .join(incKeyed, "inc_id")
      .join(spark.table(s"${name}_docs"), "corp_id")
      .withColumn("__common", TextExprs.intersect_size(col("__shi"), col("sh")))
      .filter(col("__common").cast("double") /
        (col("__ni") + col("n") - col("__common")) >= threshold)
      .select("inc_id", "corp_id")
  }

  /** INCREMENTAL near-dup cluster maintenance — [[dedupClusters]] without
    * the global re-run: a standing corpus carries labels (doc_id →
    * cluster = its component's min id, [[dedupClusters]]' output) and a
    * standing band index; an arriving batch contributes ONLY
    *   - its increment↔corpus verified pairs (probed from the index,
    *     [[probeBandIndexPairs]]), and
    *   - its increment↔increment pairs (batch-sized MinHash),
    * and connected components run on the SMALL graph whose vertices are
    * the increment docs plus the TOUCHED standing cluster
    * representatives (corpus endpoints are lifted to their labels — valid
    * because a label already names its whole component, and corpus-only
    * pair structure cannot change when the corpus didn't). The result is
    * IDENTICAL to re-running [[dedupClusters]] on the union corpus
    * (spec-pinned, and q107's oracle recomputes the union re-run in SQL):
    * union components = old components merged along new edges, and the
    * new component min = min over (touched old minima, increment ids) —
    * exactly what min-label CC on the lifted graph computes.
    *
    * Scale shape: per batch, probe cost (flat as the corpus grows — see
    * ProbeStanding), a batch² LSH self-join, CC on a batch-sized graph,
    * ONE broadcast remap join keyed by cluster to relabel only affected
    * components, and the increment's own labels. The corpus is never
    * re-paired and unaffected components are never touched. */
  def incrementalClusters(spark: SparkSession, standingLabels: DataFrame,
      increment: DataFrame, name: String, threshold: Double): DataFrame = {
    val meta = Snapshots.metaRow(spark, s"${name}_meta")
    val (shingleK, numHashes, rowsPerBand) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val crossPairs = probeBandIndexPairs(spark, increment, name, threshold)
    val incPairs = minhashDupPairs(increment, shingleK, numHashes,
      rowsPerBand, threshold).select("doc_a", "doc_b")
    // lifted is read TWICE (the CC input union below and remap's touched-
    // cluster distinct) — without this barrier the whole band-index probe
    // (increment shingling + bucket join + Jaccard verify) re-executed per
    // consumer: ProbeJobs showed the probe's index-read stage duplicated
    // on q176's serve (2.2 s + 0.7 s task time for one probe's work)
    val lifted = crossPairs
      .join(standingLabels.select(col("doc_id").as("corp_id"), col("cluster")),
        "corp_id")
      .select(col("inc_id").as("doc_a"), col("cluster").as("doc_b"))
      .localCheckpoint()
    val (labels, _) = ccLabels(lifted.unionByName(incPairs))
    // relabel ONLY the touched components: (old cluster rep → new min)
    val remap = labels
      .join(lifted.select(col("doc_b").as("v")).distinct(), "v")
      .select(col("v").as("cluster"), col("l").as("__nl"))
    val corpusNew = standingLabels
      .join(broadcast(remap), Seq("cluster"), "left")
      .select(col("doc_id"), coalesce(col("__nl"), col("cluster")).as("cluster"))
    val incNew = increment.select(col("doc_id"))
      .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("l"), col("doc_id")).as("cluster"))
    corpusNew.unionByName(incNew)
      .select(col("doc_id"), col("cluster"),
        (col("cluster") === col("doc_id")).as("keep"))
  }

  def probeBandIndex(spark: SparkSession, increment: DataFrame, name: String,
      threshold: Double): DataFrame = {
    // thash must stay the ONLY equi-key: a second `text = __ctext` equality
    // would be extracted as a join key, and the (thash, text) key set no
    // longer matches the table's thash bucketing (Spark requires all
    // cluster keys to match for co-partitioning), forcing a full re-shuffle
    // of the index. Mutual startsWith ⇔ string equality, but stays a
    // post-match filter on the (tiny) thash-collision candidate set.
    val exact = increment
      .withColumn("__th", xxhash64(col("text")))
      .join(spark.table(s"${name}_texts").withColumnRenamed("text", "__ctext"),
        col("__th") === col("thash") &&
          col("text").startsWith(col("__ctext")) &&
          col("__ctext").startsWith(col("text")),
        "left_semi")
      .select(col("doc_id"), lit(true).as("__ex"))
    val near = probeBandIndexPairs(spark, increment, name, threshold)
      .groupBy("inc_id").agg(min(col("corp_id")).as("near_dup_of"))
    increment.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near.withColumnRenamed("inc_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__ex"), lit(false)).as("exact_dup"),
        col("near_dup_of"),
        (col("__ex").isNull && col("near_dup_of").isNull).as("keep"))
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold via the inverted-index
    * self-join. `maxDf`: drop shingles appearing in more than maxDf docs
    * before pairing (0 = no cap). The cap bounds the self-join at scale; with
    * a cap the reported Jaccard is still computed over the FULL shingle sets,
    * only candidate generation is pruned.
    */
  def jaccardDupPairs(docs: DataFrame, shingleK: Int, threshold: Double,
      maxDf: Long = 0L): DataFrame = {
    import graft.functions.TextExprs
    require(maxDf < Int.MaxValue,
      s"maxDf $maxDf does not fit the collect_capped cap (use 0 for uncapped)")
    val withSh = docs
      .select(col("doc_id"), TextExprs.shingle_hash_set(col("text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    // the shingle array is per-doc DISTINCT by construction, so exploding it
    // yields the set relation directly — no post-explode distinct exchange,
    // and per-doc sizes are a projection (size(sh)), not an aggregation
    val sh = withSh.select(col("doc_id"), explode(col("sh")).as("h"))
    val sizes = withSh.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    if (maxDf <= 0) {
      // no cap: the inverted-index self-join yields common counts directly —
      // one groupBy instead of distinct-pairs + two re-joins
      sh.select(col("doc_id").as("doc_a"), col("h"))
        .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("common"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .withColumn("jaccard", col("common").cast("double") /
          (col("na") + col("nb") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    } else {
      // cap prunes candidate generation only; scores stay exact over FULL
      // shingle sets. ONE exchange builds the capped inverted index:
      // collect_capped keeps at most maxDf+1 doc_ids per shingle — bounded
      // aggregation state even for a boilerplate shingle in 100M docs,
      // whose overflowed (size > maxDf) posting list is exactly what the
      // cap drops from candidate generation.
      //
      // Scoring exploits that the generated pairs already CARRY the answer:
      // groupBy(doc_a, doc_b).count() over them is the exact common-shingle
      // count across every df ≤ cap shingle (each shingle contributes its
      // pair once — per-doc shingle arrays are distinct by construction).
      // The only common shingles that count misses are HOT ones (df > cap),
      // and a doc with zero hot shingles can share zero of them — so for
      // pairs where either side's hot-shingle count is 0 (ALL pairs, on a
      // corpus where the cap never fires) the Jaccard is computed directly
      // from (count, |a|, |b|): the array-verify joins — candidate-pair ×
      // full shingle arrays, the dominant cost of this query — vanish.
      // Only pairs where BOTH docs touch hot shingles, and whose
      // upper-bound Jaccard (common + min(hot_a, hot_b), clamped to
      // min(|a|,|b|)) clears the threshold, fall back to the array verify.
      import graft.functions.CollectCapped.collect_capped
      val idx = sh.groupBy("h")
        .agg(collect_capped(col("doc_id"), maxDf.toInt).as("__ds"))
      val vis = idx.filter(size(col("__ds")).between(2, maxDf.toInt))
      val cvis = vis
        .select(explode(col("__ds")).as("doc_a"), col("__ds"))
        .select(col("doc_a"), explode(col("__ds")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("__c"))
      // per-doc count of hot shingles — the hot set is tiny by definition
      // (boilerplate), so this join is map-side after AQE broadcasts it
      val hot = idx.filter(size(col("__ds")) > maxDf.toInt).select("h")
      val dropped = sh.join(hot, "h").groupBy("doc_id").agg(count(lit(1)).as("__d"))
      val scored = cvis
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("__na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("__nb")), "doc_b")
        .join(dropped.select(col("doc_id").as("doc_a"), col("__d").as("__da")),
          Seq("doc_a"), "left")
        .join(dropped.select(col("doc_id").as("doc_b"), col("__d").as("__db")),
          Seq("doc_b"), "left")
        .withColumn("__slack",
          least(coalesce(col("__da"), lit(0L)), coalesce(col("__db"), lit(0L))))
      val exact = scored
        .filter(col("__slack") === 0)
        .withColumn("jaccard", col("__c").cast("double") /
          (col("__na") + col("__nb") - col("__c")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      val ubC = least(col("__c") + col("__slack"), least(col("__na"), col("__nb")))
      val maybe = scored
        .filter(col("__slack") > 0)
        .filter(ubC.cast("double") / (col("__na") + col("__nb") - ubC) >= threshold)
        .select("doc_a", "doc_b")
      exact.unionByName(scorePairs(maybe, withSh, threshold))
    }
  }

  /** Exact all-pairs Jaccard via AllPairs/PPJoin PREFIX FILTERING — same
    * results as [[jaccardDupPairs]], asymptotically smaller candidate set.
    *
    * Each doc's shingles are canonically ordered by (global df asc, h asc);
    * only the first |x| − ⌈t·|x|⌉ + 1 shingles (the "prefix") are indexed.
    * Theorem (Bayardo et al., WWW'07): J(x,y) ≥ t implies the two prefixes
    * under any shared total order intersect, so the prefix self-join loses
    * no true pair; scores are then computed over the FULL shingle arrays.
    * The rarest-first order makes prefix collisions scarce: candidates
    * shrink by ~(1−t)² vs the full inverted index.
    *
    * `thresholdMill` is the Jaccard threshold in exact per-mill (700 =
    * 0.7) so the prefix length ⌈t·n⌉ = (n·mill + 999) div 1000 is pure
    * integer arithmetic — no float ceil() off-by-one (0.7·10 is
    * 7.000000000000001 in IEEE; ceiling that would shorten the prefix and
    * silently drop true pairs).
    *
    * `rareFirst` picks the canonical order: `true` = global df ascending
    * (fewest candidates — the AllPairs choice; costs one df aggregation +
    * join + per-doc rank), `false` = plain hash ascending (the prefix
    * becomes a PURE PROJECTION — slice of the sorted shingle array, zero
    * extra shuffles — at the price of more candidates when small hashes
    * happen to be common shingles). Both are exact; the theorem only needs
    * SOME shared total order. */
  def jaccardDupPairsPrefix(docs: DataFrame, shingleK: Int,
      thresholdMill: Int, rareFirst: Boolean = true): DataFrame = {
    import graft.functions.TextExprs
    import org.apache.spark.sql.expressions.Window
    val threshold = thresholdMill / 1000.0
    val withSh = docs
      .select(col("doc_id"), TextExprs.shingle_hash_set(col("text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    // prefix length = n − ⌈t·n⌉ + 1, exact integer per-mill arithmetic
    val prefix = if (rareFirst) {
      val ex = withSh.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("h"))
      val dfTab = ex.groupBy("h").agg(count(lit(1)).as("df"))
      ex.join(dfTab, "h")
        .withColumn("__rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df").asc, col("h").asc)))
        .filter(expr(s"__rn <= n - ((n * $thresholdMill + 999) div 1000) + 1"))
        .select("doc_id", "h")
    } else {
      // BIGINT arithmetic like the rareFirst branch: an INT multiply would
      // overflow past ~Int.MaxValue/mill distinct shingles (ANSI error, or
      // wrapped-negative slice length silently dropping true pairs)
      withSh.select(col("doc_id"), explode(expr(
        s"""slice(array_sort(sh), 1, CAST(
           |  CAST(size(sh) AS BIGINT)
           |    - ((CAST(size(sh) AS BIGINT) * $thresholdMill + 999) div 1000)
           |    + 1 AS INT))""".stripMargin)).as("h"))
    }
    val cands = prefix.select(col("doc_id").as("doc_a"), col("h"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    scorePairs(cands, withSh, threshold)
  }

  /** 32-bit SimHash per document over token-occurrence hashes: bit i of the
    * fingerprint is set iff Σ_tokens (2·bit_i(h) − 1) > 0 (ties → 0).
    * One native-expression projection — no explode, no shuffle; the
    * explode-based spec form below (×32 bit fan-out + two aggregations) is
    * what the DuckDB oracle mirrors, pinned equal by NativeTextSpec. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextExprs.simhash32(col("text")).as("simhash"))

  /** Executable spec for [[simhash]] (the oracle's formulation). */
  def simhashViaExplode(docs: DataFrame): DataFrame =
    TextOps.tokenHashes(docs)
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("i"))
      .groupBy("doc_id", "i")
      .agg(sum(expr("2 * ((h >> i) & 1) - 1")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(1L, i)")).otherwise(0L)).as("simhash"))

  /** Benchmark DECONTAMINATION: training documents sharing at least one
    * k-token-gram with the eval corpus, with the count of shared distinct
    * grams — the standard pretraining hygiene step (eval n-gram overlap →
    * drop or flag).
    *
    * Scale shape: the eval side is benchmark-sized — a genuine dimension,
    * not data — so its distinct gram-hash set BROADCASTS and the training
    * corpus streams once through a map-side hash join + per-doc count;
    * nothing data-sized shuffles except the (doc_id, matched-gram) hits,
    * which are contamination-sized. Gram hashes reuse the one-pass
    * `shingle_hash_set` projection (per-doc distinct by construction, so
    * the join counts each shared gram once).
    */
  def contaminationFlags(train: DataFrame, evalDocs: DataFrame,
      shingleK: Int): DataFrame = {
    import graft.functions.TextExprs
    val evalGrams = evalDocs
      .select(explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
      .distinct()
    train
      .select(col("doc_id"),
        explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
      .join(broadcast(evalGrams), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Per-document k-gram NOVELTY against a reference slice — the graded
    * complement of [[contaminationFlags]]'s boolean hygiene flag (the
    * memorization-overlap statistic of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): for each held-out
    * document, novelty = 1 − |G_doc ∩ G_ref| / |G_doc| over DISTINCT
    * k-token gram hashes. Docs with fewer than k tokens have no gram set
    * → NULL novelty (explicit, not 0 — "no evidence" ≠ "all novel").
    *
    * Scale shape: per-doc gram sets are the one-pass `shingle_hash_set`
    * projection (set semantics by construction); |G_doc| is a map-side
    * size(); the reference gram set is model-sized and the membership
    * join is the one honest shuffle — broadcast here (the reference is a
    * slice), a gram-keyed shuffle join at full-corpus reference scale. */
  def gramNovelty(ref: DataFrame, heldOut: DataFrame, shingleK: Int): DataFrame = {
    import graft.functions.TextExprs
    val refGrams = ref
      .select(explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
      .distinct()
    heldOut
      .select(col("doc_id"),
        TextExprs.shingle_hash_set(col("text"), shingleK).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"),
        explode_outer(col("hs")).as("h"))
      .join(broadcast(refGrams.withColumn("hit", lit(1L))), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(max("n_grams").as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("shared"))
      .selectExpr("doc_id", "n_grams", "CAST(shared AS BIGINT) AS shared",
        "CASE WHEN n_grams > 0 THEN round(CAST(1 AS DOUBLE) " +
          "- CAST(shared AS DOUBLE) / n_grams, 6) END AS novelty")
  }

  // ---- standing eval-gram store (decontamination joins the q90/q110/q119
  // standing-state family: benchmarks are ADMITTED over time — new eval
  // sets append their gram hashes; training arrivals probe the standing
  // set without ever re-shingling the admitted benchmarks) ---------------

  /** Persist the eval corpus's decontamination state: `name_grams` holds
    * DISTINCT (h, doc_id) gram-hash pairs bucketed by h (pair grain keeps
    * appends idempotent and rebuilds exact; probes touch only matched
    * buckets), `name_docs` the admitted benchmark ids (replay guard),
    * `name_meta` (written LAST — it gates completeness) the geometry. */
  def buildEvalGramStore(spark: SparkSession, evalDocs: DataFrame,
      name: String, shingleK: Int, location: String, buckets: Int = 32,
      datasetTag: String = ""): Unit = {
    import spark.implicits._
    import graft.functions.TextExprs
    evalDocs
      .select(col("doc_id"),
        explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
      .distinct()
      .write.mode("overwrite").option("path", s"$location/grams")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(s"${name}_grams")
    evalDocs.select("doc_id")
      .write.mode("overwrite").option("path", s"$location/docs")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
    Seq((shingleK, buckets, datasetTag))
      .toDF("shingle_k", "buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether store `name` exists AND was built from `datasetTag`. */
  def evalGramStoreMatches(spark: SparkSession, name: String,
      datasetTag: String): Boolean =
    Snapshots.storeTagged(spark, name, Seq("grams", "docs"), datasetTag)

  /** Admit a new benchmark slice: append its distinct gram pairs —
    * benchmark-sized work, the standing set is never re-shingled.
    * `idempotent = true` anti-joins against `name_docs` first, so
    * at-least-once replay inserts nothing (localCheckpoint pins the
    * filtered batch before the writes mutate the guard). */
  def appendToEvalGramStore(spark: SparkSession, newEval0: DataFrame,
      name: String, idempotent: Boolean = false): Unit = {
    import graft.functions.TextExprs
    val meta = Snapshots.metaRow(spark, s"${name}_meta")
    val (shingleK, buckets) = (meta.getInt(0), meta.getInt(1))
    val newEval = if (!idempotent) newEval0 else newEval0.join(
      spark.table(s"${name}_docs"), Seq("doc_id"), "left_anti").localCheckpoint()
    newEval
      .select(col("doc_id"),
        explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
      .distinct()
      .write.mode("append")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(s"${name}_grams")
    newEval.select("doc_id")
      .write.mode("append")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
  }

  /** Rewrite only the meta tag — the completeness seal for multi-stage
    * builds: build with a staging tag, append the remaining benchmark
    * slices, then retag to the final dataset tag. A crash anywhere
    * before the retag leaves a non-matching tag, so the guard answers
    * "rebuild" instead of probing a half-admitted store. */
  def retagEvalGramStore(spark: SparkSession, name: String,
      location: String, datasetTag: String): Unit = {
    import spark.implicits._
    val meta = Snapshots.metaRow(spark, s"${name}_meta")
    Seq((meta.getInt(0), meta.getInt(1), datasetTag))
      .toDF("shingle_k", "buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Probe arriving training docs against the standing eval-gram set:
    * identical verdict to [[contaminationFlags]](train, admitted evals)
    * — per train doc, the count of its distinct grams present ANYWHERE
    * in the admitted benchmarks (store rows are (h, doc_id) pairs, so
    * the store side first collapses matched hashes with a bucket-aligned
    * distinct — no exchange on the standing side).
    *
    * Scale shape: train-side one-pass shingle projection; the probe's
    * distinct hash set joins the h-bucketed store reading only matched
    * buckets; per-doc counts aggregate contamination-sized hits. Flat
    * per batch as the admitted benchmark family grows. */
  def probeContamination(spark: SparkSession, train: DataFrame,
      name: String): DataFrame = {
    import graft.functions.TextExprs
    // the store is maintained by OTHER writers (benchmark admission may
    // run in a different session while a probe stream is live); drop the
    // session's cached relation so this probe lists the store's current
    // files — without this, a cloned streaming session keeps answering
    // from the file list of its first batch
    spark.catalog.refreshTable(s"${name}_grams")
    val shingleK = Snapshots.metaRow(spark, s"${name}_meta").getInt(0)
    val trainGrams = train
      .select(col("doc_id"),
        explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
    val standingHit = spark.table(s"${name}_grams")
      .join(trainGrams.select("h").distinct(), Seq("h"))
      .select("h").distinct()
    trainGrams
      .join(standingHit, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** ALTERNATING large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the
    * EDGE-rewriting alternative to [[ccLabels]]' label propagation, with
    * the proven O(log n) round bound on adversarial graphs where
    * min-label schemes rely on structure:
    *
    *   - large-star(u): every STRICTLY LARGER neighbor of u re-attaches
    *     to m = min(Γ(u) ∪ {u});
    *   - small-star(u): every neighbor ≤ u, and u itself, re-attaches
    *     to m.
    *
    * Both preserve connectivity and monotonically shrink the potential;
    * at the fixpoint the edge set is a union of stars whose centers are
    * the component minima — labels fall out as min(neighbor, self).
    *
    * Scale shape: each half-round is one groupBy(src).min + an
    * adjacency×min equi-join, shuffling (id, id) pairs — the same
    * exchange profile as a propagation round, but on a RELABELED edge
    * set that collapses geometrically. Fixpoint detection is EXACT on the
    * checkpointed relations: equal counts (cheap aggregate, differs on
    * every non-fixpoint round) and then an empty `exceptAll` — a
    * multiset-checksum equality could collide and declare convergence on
    * a non-fixpoint edge set. Kept as the documented production
    * alternative; [[dedupClusters]] runs [[ccLabels]] (pointer doubling),
    * whose per-round cost is lower on the tiny cliques/chains near-dup
    * graphs actually are. TextDedupSpec + PropertySpec pin both paths to
    * identical labels.
    */
  private[graft] def ccLabelsAlternating(pairs: DataFrame): (DataFrame, Int) = {
    def symmetrize(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // per-node min over the symmetric adjacency, self included
    def mins(adj: DataFrame): DataFrame = adj
      .groupBy("src").agg(least(min(col("dst")), col("src")).as("__m"))
    def largeStar(e: DataFrame): DataFrame = {
      val adj = symmetrize(e)
      adj.join(mins(adj), "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val adj = symmetrize(e)
      val m = mins(adj)
      adj.join(m, "src")
        .filter(col("dst") <= col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        // u itself re-attaches to its min too
        .unionByName(m.select(col("src"), col("__m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    var edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var nEdges = edges.count()
    val nE = nEdges
    val budget = 2 * (64 - java.lang.Long.numberOfLeadingZeros(nE.max(1L))) + 16
    var rounds = 0
    var converged = nE == 0
    // Small edge sets (delta-CC on an increment's pairs, q107/q121/q176's
    // serve grain — and any corpus whose dup graph is simply small) PIN on
    // the driver: each round is then ONE collect job and the exact
    // set-equality fixpoint probe is a free hash-set compare, instead of
    // checkpoint + count + exceptAll jobs per round. Corpus-grain dup
    // graphs above the cut keep the distributed checkpoint + exceptAll
    // probe — dup pairs are data-derived, not atlas-bounded.
    val pinCut = graft.util.Loops.CcPinMaxRows
    var edgeSet: Set[(Any, Any)] =
      if (converged || nE > pinCut) null
      else {
        val (p, rows) = graft.util.Loops.pinRows(edges)
        edges = p
        rows.iterator.map(r => (r.get(0), r.get(1))).toSet
      }
    while (!converged) {
      require(rounds < budget,
        s"alternating CC did not converge in $budget rounds (|E|=$nE)")
      if (edgeSet != null) {
        val (next, rows) = graft.util.Loops.pinRows(smallStar(largeStar(edges)))
        val nset = rows.iterator.map(r => (r.get(0), r.get(1))).toSet
        converged = nset == edgeSet
        edges = next
        edgeSet = nset
        nEdges = rows.length.toLong
        // the pin decision was made from the INITIAL |E|; largeStar
        // intermediates can expand the edge set several-fold mid-loop
        // (r20 ADVICE) — demote to the distributed branch instead of
        // riding toward Loops.PinMaxRows' hard failure
        if (!converged && nEdges > pinCut) {
          edgeSet = null
          edges = edges.localCheckpoint()
        }
      } else {
        val next = smallStar(largeStar(edges)).localCheckpoint()
        val nextN = next.count()
        // EXACT fixpoint test (both sides are distinct, checkpointed
        // sets): equal cardinality + empty difference ⇔ equal sets. The
        // count differs on every shrinking round, so the exceptAll job
        // only runs at (or one collision-free step before) the fixpoint.
        converged = nextN == nEdges && next.exceptAll(edges).isEmpty
        edges = next
        nEdges = nextN
      }
      rounds += 1
    }
    // fixpoint = stars centered at component minima
    val labels = symmetrize(edges)
      .groupBy("src").agg(least(min(col("dst")), col("src")).as("l"))
      .withColumnRenamed("src", "v")
    (labels, rounds)
  }

  /** EXACT-SUBSTRING decontamination — the suffix-style companion to
    * [[contaminationFlags]]'s set-overlap check (the Lee et al. dedup
    * paper's exact-substring criterion, expressed relationally): for each
    * training document sharing at least one k-token-gram with the eval
    * corpus, report the number of contaminated gram POSITIONS and the
    * token length of the longest CONTIGUOUS shared run. A run of m
    * consecutive matching k-gram start positions certifies a shared
    * substring of m+k−1 tokens — the sorted-k-gram-run equivalent of a
    * suffix-array longest-match scan, with no suffix structure to build.
    *
    * Scale shape: identical to [[contaminationFlags]] — the eval gram set
    * is benchmark-sized and BROADCASTS; the training corpus streams once
    * through a map-side hash join (positions ride along as posexplode
    * output, still one pass). Only the contamination-sized hit relation
    * reaches the per-doc window, which partitions by doc_id — state is one
    * document's hits, never corpus-sized. The gaps-and-islands grouping
    * (pos − row_number) is pure SQL, mirrored verbatim by the oracle.
    */
  def substringContamination(train: DataFrame, evalDocs: DataFrame,
      shingleK: Int): DataFrame = {
    import graft.functions.TextExprs
    import org.apache.spark.sql.expressions.Window
    val evalGrams = evalDocs
      .select(explode(TextExprs.shingle_hash_set(col("text"), shingleK)).as("h"))
      .distinct()
    // ordered gram OCCURRENCES with positions — per-doc duplicates kept,
    // unlike the distinct-set relation the Jaccard family uses. One native
    // codegen'd projection (shingle_hashes) builds the positional array;
    // the HOF form (tokenHashArrayExpr + shingleHashExpr) stays the
    // oracle-mirrored spec, pinned equal by NativeTextSpec.
    val grams = train
      .select(col("doc_id"),
        posexplode(TextExprs.shingle_hashes(col("text"), shingleK)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams
      .join(broadcast(evalGrams), "h")
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "__grp").agg(count(lit(1)).as("__run"))
      .groupBy("doc_id")
      .agg(
        sum(col("__run")).as("hit_positions"),
        (max(col("__run")) + (shingleK - 1)).as("max_run_tokens"))
  }

  /** CORPUS-INTERNAL exact-substring dedup (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" criterion turned inward,
    * with keep-first semantics): a gram position (d, p) is DUPLICATED when
    * the k-token gram starting there also occurs in some EARLIER document
    * (min doc_id over the gram's occurrences < d — that earliest document
    * keeps its text untouched). Consecutive duplicated positions form
    * runs; a run of m positions certifies a shared substring of m+k−1
    * tokens, and only runs certifying ≥ `minRunTokens` tokens count (the
    * paper uses 50). Returns one row per document with ≥ 1 qualifying
    * span: (doc_id, n_spans, dup_positions, dup_tokens, max_run_tokens) —
    * the removal manifest a rewrite pass would consume. Adjacent spans
    * separated by < k positions can share boundary tokens; dup_tokens is
    * the Σ(run + k − 1) span-certificate total, not a disjoint-union size.
    *
    * Scale shape: the sorted-k-gram-run equivalent of the suffix-array
    * scan, with no suffix structure to build — one positional gram pass
    * (corpus-sized), a gram-keyed min aggregation (the only corpus-sized
    * shuffle, map-side combinable), a gram-keyed equi-join back, and
    * per-doc windows partitioned by doc_id (state = one document's hits).
    * Unlike [[substringContamination]] there is no benchmark-sized
    * broadcast side — the corpus checks against ITSELF, so the first-
    * occurrence relation is vocabulary-sized and stays a shuffle join. */
  def substringCorpusDedup(docs: DataFrame, shingleK: Int,
      minRunTokens: Int): DataFrame = {
    import graft.functions.TextExprs
    import org.apache.spark.sql.expressions.Window
    require(minRunTokens >= shingleK,
      s"minRunTokens ($minRunTokens) must be >= shingleK ($shingleK)")
    val grams = docs
      .select(col("doc_id"),
        posexplode(TextExprs.shingle_hashes(col("text"), shingleK)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val first = grams.groupBy("h").agg(min(col("doc_id")).as("__fd"))
    val hits = grams
      .join(first, "h")
      .filter(col("doc_id") > col("__fd"))
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "__grp").agg(count(lit(1)).as("__run"))
      .filter(col("__run") + (shingleK - 1) >= minRunTokens)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("__run")).as("dup_positions"),
        sum(col("__run") + (shingleK - 1)).as("dup_tokens"),
        (max(col("__run")) + (shingleK - 1)).as("max_run_tokens"))
  }

  /** Near-duplicate RESOLUTION: connected components over a (doc_a, doc_b)
    * pair graph, then a per-document keep/drop verdict — the step that
    * turns any pair detector (MinHash, SimHash, exact/prefix Jaccard,
    * embedding cosine) into an actual deduplicated corpus. A transitive
    * near-dup chain a~b~c must collapse to ONE kept document even when
    * (a,c) was never directly detected.
    *
    * Components by min-label propagation WITH POINTER DOUBLING (the BSP CC
    * algorithm plus the path-halving jump): every vertex starts as its own
    * label; each round every vertex takes the min of (its own label, its
    * neighbors' labels, its LABEL'S label). The jump term l(l(v)) makes the
    * reached distance along a shortest path double-plus-one per round —
    * a k-hop chain converges in ~log₂k rounds instead of k (ccLabels'
    * spec pins a 16-hop chain at ≤ 7 rounds) — while the fixpoint stays
    * the same unique value: the component's minimum doc_id, which is also
    * the canonical survivor (matching exactDedup's min-id convention).
    * Deterministic under any partitioning or join order.
    *
    * Scale shape: one round = an edges×labels equi-join + a min
    * aggregation + a labels×labels self-join (the jump) — all shuffle on
    * vertex ids, no vertex ever carries its payload (labels are (id, id)
    * pairs). `localCheckpoint` truncates the per-round lineage, the
    * standard BSP barrier. Fixpoint detection is FOLDED into the round's
    * one materialization: the per-vertex changed flag is computed in the
    * same projection that builds the next labels, so detecting
    * convergence costs one tiny max() over the just-checkpointed
    * partitions — not the extra labels×labels join + count job per round
    * the naive formulation pays. A ⌈log₂ n⌉-scaled round budget turns a
    * would-be infinite loop (impossible for monotone min-label, but the
    * guard is free) into a loud failure.
    *
    * Returns (doc_id, cluster, keep) for EVERY document: cluster = the
    * component's min doc_id (a singleton's own id), keep = whether this
    * document is its cluster's canonical survivor.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = ccLabels(pairs)._1
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("l"), col("doc_id")).as("cluster"),
        (coalesce(col("l"), col("doc_id")) === col("doc_id")).as("keep"))
  }

  /** Connected-component labels (v, l) for every vertex of the pair graph,
    * plus the number of BSP rounds taken — exposed so the spec can assert
    * the pointer-doubling round bound. See [[dedupClusters]]. */
  private[graft] def ccLabels(pairs: DataFrame): (DataFrame, Int) = {
    // materialize the edge relation ONCE: every propagation round joins
    // against it, and without this barrier each round would re-execute the
    // entire upstream pair-detection DAG (for q66, the full MinHash/LSH/
    // verify pipeline — the dominant cost of the query)
    val symCk = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = symCk.select(col("src").as("v")).distinct().withColumn("l", col("v"))
    // ONE up-front action sizes the round budget (and warms the edge
    // checkpoint); with the jump, rounds ≈ log₂(diameter), so ⌈log₂ n⌉
    // plus generous slack can only trip on a logic bug — fail loudly
    // rather than loop silently
    val nV = labels.count()
    val budget = 64 - java.lang.Long.numberOfLeadingZeros(nV.max(1L)) + 16
    // Small pair graphs (delta-CC serve grain, fixture-scale corpora) pin
    // BOTH the edge set and the NV-row label state on the driver — every
    // round is then LocalRelation-only (one collect job, free fixpoint
    // probe: the ccLabelsAlternating precedent; pinning only the labels
    // measured SLOWER, because each round still scanned the distributed
    // edge RDD through the serial pin session). The gate reads the
    // CHECKPOINTED edge count, so a data-sized dup graph keeps the
    // distributed checkpoint + agg-probe rounds.
    val pinCut = graft.util.Loops.CcPinMaxRows
    val pinned = nV > 0 && nV <= pinCut && symCk.count() <= pinCut
    val sym = if (pinned) graft.util.Loops.pin(symCk) else symCk
    if (pinned) labels = graft.util.Loops.pin(labels)
    var rounds = 0
    var changed = nV > 0
    while (changed) {
      require(rounds < budget,
        s"connected components did not converge in $budget rounds (n=$nV)")
      val prop = sym
        .join(labels.select(col("v").as("dst"), col("l").as("__ld")), "dst")
        .groupBy("src").agg(min(col("__ld")).as("__ln"))
        .withColumnRenamed("src", "v")
      // pointer doubling: every label is itself a vertex id (min of vertex
      // ids, inductively), so l(l(v)) is a lookup into the same relation
      val jump = labels.select(col("v").as("__lv"), col("l").as("__lj"))
      val nextPlan = labels
        .join(prop, Seq("v"), "left")
        .join(jump, col("l") === col("__lv"), "left")
        .withColumn("__l2", least(col("l"),
          coalesce(col("__ln"), col("l")), coalesce(col("__lj"), col("l"))))
        .select(col("v"), (col("__l2") =!= col("l")).as("__chg"),
          col("__l2").as("l"))
      if (pinned) {
        val (next, rows) = graft.util.Loops.pinRows(nextPlan)
        val chg = nextPlan.schema.fieldIndex("__chg")
        changed = rows.exists(_.getBoolean(chg)) // free driver-side probe
        labels = next.select("v", "l")
      } else {
        val next = nextPlan.localCheckpoint() // the round's ONE materialization
        // fixpoint probe reads the checkpointed partitions only — no join
        changed = next.agg(max(col("__chg"))).head().getBoolean(0)
        labels = next.select("v", "l")
      }
      rounds += 1
    }
    (labels, rounds)
  }
}
