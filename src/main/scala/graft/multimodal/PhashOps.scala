package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.BinaryExprs
import graft.util.Snapshots

/** Perceptual near-dup machinery over binary media payloads — the media
  * modality's twin of the text band index (DedupOps.buildBandIndex) and the
  * vector index (SimilarityOps.buildVecIndex), closing the standing-index /
  * admission / streaming symmetry across all three modalities (SURVEY.md
  * §8b; the reference's update-drop ingest loop, convert2BIDS.sh:8, is the
  * workflow this serves at training-data scale).
  *
  * Fingerprint: [[graft.functions.Phash.phash64]] — the 64-bit blocked-DCT
  * sign hash — bucketed by 4 disjoint 16-bit Hamming bands. By pigeonhole
  * the banding is EXACT at radius τ = 3 (a pair differing in ≤ 3 bits
  * cannot differ in all 4 bands), so unlike MinHash banding there is no
  * recall luck: the bucket join is pure pruning, and the verification step
  * (exact popcount of the XOR) closes precision. 16-bit bands give 65 536
  * bucket values per band, so random-pair pooling is ~n²/65 536 per band —
  * 256× fewer candidates than the 8-bit geometry this replaces, which
  * pooled ~n²/256 and was the round-12 scale reservation.
  *
  * Scale shape: payloads never shuffle — the fingerprint is computed in the
  * scan stage and only 8-byte hashes + band keys move. The standing index
  * persists band rows bucketed by (r, bv), so a probing batch joins with
  * ZERO corpus-side exchange (broadcast-probed for batch-sized increments;
  * bucket-co-located for large ones).
  */
object PhashOps {

  /** Disjoint Hamming bands over the 64-bit fingerprint. */
  val Bands = 4
  val BandBits = 16
  private val BandMask = (1L << BandBits) - 1

  /** Exactness bound: banding loses no pair at Hamming distance ≤ Bands-1. */
  val Tau = 3

  /** Widest radius the multi-probe expansion supports (q = 2 flips per
    * band: Bands·(q+1)−1). */
  val TauMax = 11

  /** media(doc_id, payload) → (doc_id, ph): the per-payload fingerprint. */
  def fingerprints(media: DataFrame): DataFrame =
    media.select(col("doc_id"), BinaryExprs.phash64(col("payload")).as("ph"))

  /** The band key of fingerprint `ph` for band `r` — mask AFTER the
    * arithmetic shift so the sign bit (coefficient 64) never leaks into
    * bucket keys. */
  private def bandKey(ph: Column, r: Int): Column =
    shiftright(ph, BandBits * r).bitwiseAND(lit(BandMask))

  /** (doc_id, ph) → (doc_id, ph, r, bv): one row per disjoint band. */
  def bandRelation(ph: DataFrame): DataFrame =
    ph.select(col("doc_id"), col("ph"),
      explode(array((0 until Bands).map(r =>
        struct(lit(r).as("r"), bandKey(col("ph"), r).as("bv"))): _*)).as("bd"))
      .select(col("doc_id"), col("ph"), col("bd.r").as("r"), col("bd.bv").as("bv"))

  /** MULTI-PROBE expansion factor for radius `tau`: q = flips per band
    * such that tau ≤ Bands·(q+1)−1 (a pair within tau must have SOME band
    * differing in ≤ q bits — if every band differed in ≥ q+1, the total
    * would exceed tau). q = 0 is the plain probe (exact ≤ 3); q = 1
    * probes each band key plus its 16 Hamming-1 neighbors (exact ≤ 7);
    * q = 2 adds the 120 Hamming-2 neighbors (exact ≤ 11, the 2×-resize
    * operating point — PhashSpec measures decimation at ~8–10 bits). */
  private def flipsPerBand(tau: Int): Int = {
    require(tau >= 0 && tau <= TauMax,
      s"phash radius must be in [0, $TauMax], got $tau")
    (tau + Bands) / Bands - 1 // = ceil((tau+1)/Bands) - 1
  }

  /** XOR masks with popcount ≤ q over the band width. |masks| = 1, 17,
    * 137 for q = 0, 1, 2. */
  private def probeMasks(q: Int): Seq[Long] = {
    val one = (0 until BandBits).map(1L << _)
    val two = for {
      i <- 0 until BandBits; j <- (i + 1) until BandBits
    } yield (1L << i) | (1L << j)
    Seq(0L) ++ (if (q >= 1) one else Nil) ++ (if (q >= 2) two else Nil)
  }

  /** The PROBE-side band relation for radius `tau`: each band key is
    * expanded to its Hamming-≤q neighborhood (classic multi-probe LSH,
    * but here EXACT by pigeonhole, not recall-probabilistic: flipping the
    * ≤ q differing bits on the probe side hits the corpus-side key
    * exactly). Expansion lives on the probe side ONLY, so the standing
    * index stays one row per (band, key) and candidate pooling is
    * ~n²·|masks|/2^BandBits per band — at q = 2 that is n²·137/65 536 ≈
    * n²/478, still 1.9× below even ONE band of the retired 8-bit
    * geometry. */
  private def probeSideBands(media: DataFrame, tau: Int): DataFrame = {
    val q = flipsPerBand(tau)
    val base = bandRelation(fingerprints(media))
    if (q == 0) base
    else base
      .select(col("doc_id"), col("ph"), col("r"),
        explode(typedlit(probeMasks(q))).as("__m"), col("bv"))
      .select(col("doc_id"), col("ph"), col("r"),
        col("bv").bitwiseXOR(col("__m")).as("bv"))
  }

  /** Verified perceptual near-dup pairs within one media relation:
    * (doc_a, doc_b, dist) with doc_a < doc_b and Hamming dist ≤ tau.
    * EXACT at any tau ≤ TauMax: plain banding covers tau ≤ Bands−1 and
    * the multi-probe expansion widens the pigeonhole bound (see
    * [[probeSideBands]]). */
  def pairRelation(media: DataFrame, tau: Int = Tau): DataFrame = {
    val bands = bandRelation(fingerprints(media))
    // MERGE hint (r20, measured): both sides are corpus-derived, so a
    // broadcast build is wrong at scale anyway — and the band keys are
    // duplicate-heavy (that is the pooling), which made the driver-side
    // UnsafeHashedRelation build the measured hot spot (~2.5 s/run on
    // q122, jstack: BytesToBytesMap.lookup/arrayEquals chains). SMJ
    // sorts both sides and streams the per-key cross product — the
    // candidate pooling the operator is designed around.
    probeSideBands(media, tau)
      .select(col("doc_id").as("doc_a"), col("ph").as("__pha"), col("r"), col("bv"))
      .hint("MERGE")
      .join(bands.select(col("doc_id").as("doc_b"), col("ph").as("__phb"),
        col("r"), col("bv")), Seq("r", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "__pha", "__phb").distinct()
      .withColumn("dist", expr("CAST(bit_count(__pha ^ __phb) AS BIGINT)"))
      .filter(col("dist") <= tau)
      .select("doc_a", "doc_b", "dist")
  }

  /** Build the STANDING perceptual index at `location`: two bucketed
    * tables plus a meta pin, the q90/q110 layout —
    *   - `name_pbands` (r, bv, corp_id, ph) bucketed by (r, bv): a probe's
    *     candidate join needs zero Exchange on this side, and the 8-byte
    *     fingerprint rides along so verification needs NO second
    *     corpus-side join;
    *   - `name_pdocs`  (corp_id, ph) bucketed by corp_id: the id set for
    *     idempotent appends (and rebuild-equality audits);
    *   - `name_pmeta`  (bands, band_bits, buckets, dataset_tag): a probe
    *     can never silently use different band geometry than the build.
    * The build is one corpus pass (fingerprints in the scan stage); every
    * subsequent batch pays only its own probe. */
  def buildPhashIndex(spark: SparkSession, media: DataFrame, name: String,
      location: String, buckets: Int = 32, datasetTag: String = ""): Unit = {
    import spark.implicits._
    val ph = fingerprints(media)
    bandRelation(ph)
      .select(col("r"), col("bv"), col("doc_id").as("corp_id"), col("ph"))
      .write.mode("overwrite").option("path", s"$location/pbands")
      .bucketBy(buckets, "r", "bv").sortBy("r", "bv")
      .saveAsTable(s"${name}_pbands")
    ph.select(col("doc_id").as("corp_id"), col("ph"))
      .write.mode("overwrite").option("path", s"$location/pdocs")
      .bucketBy(buckets, "corp_id").sortBy("corp_id")
      .saveAsTable(s"${name}_pdocs")
    Seq((Bands, BandBits, buckets, datasetTag))
      .toDF("bands", "band_bits", "buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/pmeta")
      .saveAsTable(s"${name}_pmeta")
  }

  /** Whether standing index `name` exists AND was built from `datasetTag`
    * with THIS code's band geometry — same guard contract as
    * DedupOps.bandIndexMatches: any missing table, unreadable meta, tag
    * mismatch, or geometry drift (an index persisted by an older width)
    * answers false → rebuild, never probe a stale index. */
  def phashIndexMatches(spark: SparkSession, name: String,
      datasetTag: String): Boolean =
    Snapshots.storeMatches(spark, name, Seq("pbands", "pdocs"), "pmeta") { m =>
      m.getAs[String]("dataset_tag") == datasetTag &&
        m.getAs[Int]("bands") == Bands && m.getAs[Int]("band_bits") == BandBits
    }

  /** Incremental MAINTENANCE: append a batch of newly admitted payloads to
    * both relations — bucket-aligned, batch-sized; the corpus is never
    * re-fingerprinted. `idempotent = true` guards at-least-once replay
    * (foreachBatch): the batch anti-joins on doc_id against the standing
    * pdocs ids BEFORE any write, pinned via localCheckpoint so the pbands
    * append cannot observe the pdocs append mid-flight. */
  def appendToPhashIndex(spark: SparkSession, newMedia0: DataFrame,
      name: String, idempotent: Boolean = false): Unit = {
    val buckets = Snapshots.metaRow(spark, s"${name}_pmeta").getAs[Int]("buckets")
    val newMedia = if (!idempotent) newMedia0 else newMedia0.join(
      spark.table(s"${name}_pdocs").select(col("corp_id").as("doc_id")),
      Seq("doc_id"), "left_anti").localCheckpoint()
    val ph = fingerprints(newMedia)
    bandRelation(ph)
      .select(col("r"), col("bv"), col("doc_id").as("corp_id"), col("ph"))
      .write.mode("append")
      .bucketBy(buckets, "r", "bv").sortBy("r", "bv")
      .saveAsTable(s"${name}_pbands")
    ph.select(col("doc_id").as("corp_id"), col("ph"))
      .write.mode("append")
      .bucketBy(buckets, "corp_id").sortBy("corp_id")
      .saveAsTable(s"${name}_pdocs")
  }

  /** The verified near-dup PAIRS an arriving batch makes against the
    * standing corpus: (inc_id, corp_id, dist), dist ≤ tau. Candidates come
    * off the prebuilt (r, bv)-bucketed band relation — the batch side is
    * banded fresh (batch-sized), the corpus side is a columnar scan with
    * no exchange — and verification is an inline popcount on the two
    * fingerprints the band rows already carry. Per-batch cost is
    * O(batch × bucket occupancy), flat as the corpus grows. */
  def probePhashIndexPairs(spark: SparkSession, media: DataFrame,
      name: String, tau: Int = Tau): DataFrame =
    probeSideBands(media, tau)
      .select(col("doc_id").as("inc_id"), col("ph").as("__phi"),
        col("r"), col("bv"))
      .join(spark.table(s"${name}_pbands"), Seq("r", "bv"))
      .select("inc_id", "corp_id", "__phi", "ph").distinct()
      .withColumn("dist", expr("CAST(bit_count(__phi ^ ph) AS BIGINT)"))
      .filter(col("dist") <= tau)
      .select("inc_id", "corp_id", "dist")

  /** INCREMENTAL perceptual cluster maintenance — the media twin of
    * DedupOps.incrementalClusters (q107), same delta-CC construction: a
    * standing corpus carries labels (doc_id → its component's min id over
    * the Hamming ≤ tau pair graph) and the standing band index; an
    * arriving batch contributes only its increment↔corpus pairs (probed
    * off the index) and its batch-internal pairs, corpus endpoints are
    * LIFTED to their labels, and connected components run on the
    * batch-plus-touched-representatives graph — the corpus is never
    * re-paired (valid for exactly the q107 reason: a label names its
    * whole component, and corpus-only pair structure cannot change when
    * the corpus didn't). Result ≡ re-clustering the union from scratch
    * (spec-pinned; q121's oracle recomputes the union re-run in SQL).
    *
    * Scale shape: per batch, flat probe cost + batch² banding + CC on a
    * batch-sized graph + ONE broadcast remap of touched components. */
  def incrementalPhashClusters(spark: SparkSession, standingLabels: DataFrame,
      increment: DataFrame, name: String, tau: Int = Tau): DataFrame = {
    val crossPairs = probePhashIndexPairs(spark, increment, name, tau)
      .select("inc_id", "corp_id")
    val incPairs = pairRelation(increment, tau).select("doc_a", "doc_b")
    val lifted = crossPairs
      .join(standingLabels.select(col("doc_id").as("corp_id"), col("cluster")),
        "corp_id")
      .select(col("inc_id").as("doc_a"), col("cluster").as("doc_b"))
    val (labels, _) = graft.dedup.DedupOps.ccLabels(lifted.unionByName(incPairs))
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

  /** Per-arrival admission verdicts against the standing index:
    * (doc_id, image_dup_of = min near-dup corpus id at Hamming ≤ tau,
    * keep = no near-dup) — q114's pair semantics, served per batch. */
  def probePhashIndex(spark: SparkSession, media: DataFrame, name: String,
      tau: Int = Tau): DataFrame = {
    val near = probePhashIndexPairs(spark, media, name, tau)
      .groupBy(col("inc_id").as("doc_id"))
      .agg(min("corp_id").as("image_dup_of"))
    media.select("doc_id")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("image_dup_of"),
        col("image_dup_of").isNull.as("keep"))
  }
}
