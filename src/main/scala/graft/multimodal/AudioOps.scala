package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Afp
import graft.util.Snapshots

/** Audio near-dup machinery over binary payloads — the audio member of
  * the modality-symmetric standing-index family (text bands q90, vector
  * index q110, image phash index q120-family, video keyframes q186):
  * fingerprint = [[graft.functions.Afp.afp24]] (Haitsma–Kalker
  * sign-of-band-energy-delta, exact int64), bucketed by 3 disjoint 8-bit
  * Hamming bands. By pigeonhole the banding is EXACT at radius τ = 2 (a
  * pair differing in ≤ 2 bits cannot differ in all 3 bands) — the bucket
  * join is pure pruning; verification is one popcount of the XOR.
  *
  * Scale shape: payloads never shuffle — the fingerprint is a scan-stage
  * projection and only 8-byte hashes + band keys move. The standing index
  * persists band rows bucketed by (r, bv) so a probing batch joins with
  * zero corpus-side exchange (the PhashOps layout at the audio grain).
  * The 24-bit width is the enumerable-fixture geometry; the production
  * note on [[graft.functions.Afp]] applies — at 10⁹ clips the same
  * machinery runs at HK's native 32 bits × N frames with the q186
  * per-clip sub-fingerprint grain. */
object AudioOps {

  val Bands = 3
  val BandBits = 8
  private val BandMask = (1L << BandBits) - 1

  /** Exactness bound of the plain banding. */
  val Tau = 2

  /** media(doc_id, payload) → (doc_id, afp). */
  def fingerprints(media: DataFrame): DataFrame =
    media.select(col("doc_id"), Afp.afp24(col("payload")).as("afp"))

  private def bandKey(afp: Column, r: Int): Column =
    shiftright(afp, BandBits * r).bitwiseAND(lit(BandMask))

  /** (doc_id, afp) → (doc_id, afp, r, bv): one row per disjoint band. */
  def bandRelation(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("afp"),
      explode(array((0 until Bands).map(r =>
        struct(lit(r).as("r"), bandKey(col("afp"), r).as("bv"))): _*)).as("bd"))
      .select(col("doc_id"), col("afp"), col("bd.r").as("r"), col("bd.bv").as("bv"))

  /** Per-doc dedup verdicts within one media relation: (doc_id, afp,
    * audio_dup_of = min earlier doc at Hamming ≤ tau, keep) — the q114
    * min-id semantics at the audio grain, exact at tau ≤ Bands−1. */
  def dedupVerdicts(media: DataFrame, tau: Int = Tau): DataFrame = {
    require(tau <= Bands - 1, s"plain banding is exact only to ${Bands - 1}, got $tau")
    val fp = fingerprints(media).localCheckpoint() // fingerprint once; 2 sides
    val bands = bandRelation(fp)
    val near = bands
      .select(col("doc_id").as("doc_a"), col("afp").as("__fa"), col("r"), col("bv"))
      .join(bands.select(col("doc_id").as("doc_b"), col("afp").as("__fb"),
        col("r"), col("bv")), Seq("r", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "__fa", "__fb").distinct()
      .filter(expr(s"bit_count(__fa ^ __fb) <= $tau"))
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min("doc_a").as("audio_dup_of"))
    fp.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("afp"), col("audio_dup_of"),
        col("audio_dup_of").isNull.as("keep"))
  }

  /** Build the STANDING audio index at `location` — the PhashOps layout:
    * `name_abands` (r, bv, corp_id, afp) bucketed by (r, bv), `name_adocs`
    * the id guard, `name_ameta` the geometry + dataset pin. */
  def buildAudioIndex(spark: SparkSession, media: DataFrame, name: String,
      location: String, buckets: Int = 32, datasetTag: String = ""): Unit = {
    import spark.implicits._
    val fp = fingerprints(media)
    bandRelation(fp)
      .select(col("r"), col("bv"), col("doc_id").as("corp_id"), col("afp"))
      .write.mode("overwrite").option("path", s"$location/abands")
      .bucketBy(buckets, "r", "bv").sortBy("r", "bv")
      .saveAsTable(s"${name}_abands")
    fp.select(col("doc_id").as("corp_id"), col("afp"))
      .write.mode("overwrite").option("path", s"$location/adocs")
      .bucketBy(buckets, "corp_id").sortBy("corp_id")
      .saveAsTable(s"${name}_adocs")
    Seq((Bands, BandBits, buckets, datasetTag))
      .toDF("bands", "band_bits", "buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/ameta")
      .saveAsTable(s"${name}_ameta")
  }

  /** Guard: exists AND built from `datasetTag` with this band geometry. */
  def audioIndexMatches(spark: SparkSession, name: String,
      datasetTag: String): Boolean =
    Snapshots.storeMatches(spark, name, Seq("abands", "adocs"), "ameta") { m =>
      m.getAs[String]("dataset_tag") == datasetTag &&
        m.getAs[Int]("bands") == Bands && m.getAs[Int]("band_bits") == BandBits
    }

  /** Append a batch — bucket-aligned, batch-sized; `idempotent` anti-joins
    * EACH table against its own existing rows (not just the adocs guard):
    * the two appends are not atomic, so a crash between them leaves band
    * rows without their guard row, and a replay filtered only by the
    * guard would append those band rows a second time. The band-table
    * anti-join runs at the (corp_id, r, bv) BAND grain, not the doc
    * grain: a doc-grain guard would permanently skip a doc's remaining
    * bands if a crash ever committed only part of one doc's band rows
    * (a partial task/job commit), silently weakening near-dup detection
    * — at band grain the replay lands exactly the missing rows whatever
    * the crash left behind. */
  def appendToAudioIndex(spark: SparkSession, newMedia0: DataFrame,
      name: String, idempotent: Boolean = false): Unit = {
    val buckets = Snapshots.metaRow(spark, s"${name}_ameta").getAs[Int]("buckets")
    if (idempotent) {
      spark.catalog.refreshTable(s"${name}_adocs")
      spark.catalog.refreshTable(s"${name}_abands")
    }
    val fp = fingerprints(newMedia0).localCheckpoint()
    val bands0 = bandRelation(fp)
      .select(col("r"), col("bv"), col("doc_id").as("corp_id"), col("afp"))
    val bands = if (!idempotent) bands0 else
      bands0.join(spark.table(s"${name}_abands")
          .select("corp_id", "r", "bv"),
        Seq("corp_id", "r", "bv"), "left_anti")
    bands.write.mode("append")
      .bucketBy(buckets, "r", "bv").sortBy("r", "bv")
      .saveAsTable(s"${name}_abands")
    val docs0 = fp.select(col("doc_id").as("corp_id"), col("afp"))
    val guards = if (!idempotent) docs0 else docs0.join(
      spark.table(s"${name}_adocs").select("corp_id"),
      Seq("corp_id"), "left_anti")
    guards.write.mode("append")
      .bucketBy(buckets, "corp_id").sortBy("corp_id")
      .saveAsTable(s"${name}_adocs")
  }

  /** Per-arrival admission verdicts against the standing index:
    * (doc_id, audio_dup_of = min near-dup corpus id at Hamming ≤ tau,
    * keep) — flat per-batch cost as the corpus grows.
    *
    * MEMBERSHIP SEMANTICS (q210 contract): the probe answers "is this
    * payload a near-dup of a DIFFERENT corpus member" — a doc re-probed
    * under its own already-admitted id reads keep = true (novel), never
    * "dup of itself". That is what admission needs (the self-exclusion
    * also closes the crashed-append replay window below); a batch caller
    * wanting self-membership ("is this id already IN the index") should
    * check `name_adocs` directly, not infer it from the keep column. */
  def probeAudioIndex(spark: SparkSession, media: DataFrame, name: String,
      tau: Int = Tau): DataFrame = {
    require(tau <= Bands - 1, s"plain banding is exact only to ${Bands - 1}, got $tau")
    spark.catalog.refreshTable(s"${name}_abands")
    val near = bandRelation(fingerprints(media))
      .select(col("doc_id").as("inc_id"), col("afp").as("__fi"),
        col("r"), col("bv"))
      .join(spark.table(s"${name}_abands"), Seq("r", "bv"))
      // a doc is never a dup of ITSELF: if a crashed append left this
      // doc's band rows in the index without its guard row, a replayed
      // probe would otherwise self-match at Hamming 0 and emit
      // keep = false for a genuinely novel payload
      .filter(col("corp_id") =!= col("inc_id"))
      .select("inc_id", "corp_id", "__fi", "afp").distinct()
      .filter(expr(s"bit_count(__fi ^ afp) <= $tau"))
      .groupBy(col("inc_id").as("doc_id"))
      .agg(min("corp_id").as("audio_dup_of"))
    media.select("doc_id")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("audio_dup_of"),
        col("audio_dup_of").isNull.as("keep"))
  }
}
