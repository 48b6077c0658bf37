package graft.image

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing gallery of per-scan connectome edge vectors — the
  * identification service's persisted state (the CONNECTOME member of the
  * q90/q110/q119/q126/q138/q143/q156 standing-store family).
  *
  * A fingerprinting service (q183's operator) accumulates reference scans
  * over time: each enrolled scan contributes its quantized edge vector
  * (g, p1, p2, r_fp) ONCE, on arrival — NP²/2 rows per scan, computed from
  * that scan's series only — and every later identification probes the
  * standing gallery without ever re-reading an enrolled scan's series.
  *
  * Idempotency: edge vectors are deterministic FACTS keyed (g, p1, p2) —
  * a pure function of the scan's series — so the probe collapses replays
  * with max() per key and no batch fingerprint is needed (the BetaStore
  * contract; contrast the additive DSIR store, where replays must be
  * fingerprint-deduped).
  */
object GalleryStore {

  /** Create the store: `name_vecs` (the facts), `name_scans` (the
    * replay-skip guard), `name_meta` (the seal — written LAST, so a crash
    * mid-build is detected by [[storeMatches]] and rebuilt). */
  def buildGallery(spark: SparkSession, vecs: DataFrame, name: String,
      location: String, datasetTag: String = ""): Unit = {
    import spark.implicits._
    vecs.select("g", "p1", "p2", "r_fp")
      .write.mode("overwrite").option("path", s"$location/vecs")
      .bucketBy(8, "g").sortBy("g", "p1", "p2")
      .saveAsTable(s"${name}_vecs")
    vecs.select("g").distinct()
      .write.mode("overwrite").option("path", s"$location/scans")
      .saveAsTable(s"${name}_scans")
    Seq(datasetTag).toDF("dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether store `name` exists AND was sealed from `datasetTag`. */
  def storeMatches(spark: SparkSession, name: String,
      datasetTag: String): Boolean =
    graft.util.Snapshots.storeTagged(spark, name, Seq("vecs", "scans"), datasetTag)

  /** Enroll scans: append their (g, p1, p2, r_fp) facts — scan-bounded
    * work. `idempotent` anti-joins the scan guard to skip replays cheaply;
    * even without it a replay is harmless (facts dedupe at probe time). */
  def enrollScans(spark: SparkSession, vecs0: DataFrame, name: String,
      idempotent: Boolean = false): Unit = {
    val vecs = if (!idempotent) vecs0 else vecs0.join(
      spark.table(s"${name}_scans"), Seq("g"), "left_anti").localCheckpoint()
    vecs.select("g", "p1", "p2", "r_fp")
      .write.mode("append")
      .bucketBy(8, "g").sortBy("g", "p1", "p2")
      .saveAsTable(s"${name}_vecs")
    vecs.select("g").distinct()
      .write.mode("append").saveAsTable(s"${name}_scans")
  }

  /** The deduplicated (g, p1, p2, r_fp) gallery as the store stands.
    * Refreshed first (the q138 cross-writer lesson). */
  def galleryRelation(spark: SparkSession, name: String): DataFrame = {
    spark.catalog.refreshTable(s"${name}_vecs")
    spark.table(s"${name}_vecs")
      .groupBy("g", "p1", "p2").agg(max("r_fp").as("r_fp"))
  }
}
