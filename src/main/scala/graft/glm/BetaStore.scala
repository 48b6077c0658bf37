package graft.glm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing store of per-subject FIRST-LEVEL betas — the second level's
  * persisted state (the analytical member of the q90/q110/q119/q126/q138/
  * q143 standing-store family).
  *
  * The reference's acquisition pattern is per-subject drops
  * (`convert2BIDS.sh:8` processes an `update/` directory): first-level fits
  * arrive one subject at a time, but group inference wants ALL subjects.
  * Persisting the (run, g, j, b_fp) beta facts makes each admission
  * subject-bounded work (Runs·k rows per subject — the subject's series is
  * fit ONCE, on arrival) and every second-level re-probe bounded at
  * Runs·Groups·k rows; the corpus-sized series is never re-fit.
  *
  * Idempotency: betas are deterministic FACTS keyed (run, g, j) — the
  * first-level fit is a pure function of the subject's series — not
  * additive counts. So the probe collapses replays with max() per key and
  * no batch fingerprint is needed: a crash-window replay appends identical
  * rows that dedupe at read time regardless of write ordering (contrast
  * CurationOps' additive DSIR store, where replays MUST be
  * fingerprint-deduped or they bias the model).
  */
object BetaStore {

  /** Create the store: `name_betas` (the facts), `name_subjects` (the
    * replay-skip guard), `name_meta` (the seal — written LAST, so a crash
    * mid-build is detected by [[storeMatches]] and rebuilt). */
  def buildBetaStore(spark: SparkSession, betas: DataFrame, name: String,
      location: String, datasetTag: String = ""): Unit = {
    import spark.implicits._
    betas.select("run", "g", "j", "b_fp")
      .write.mode("overwrite").option("path", s"$location/betas")
      .bucketBy(8, "g").sortBy("g", "run", "j")
      .saveAsTable(s"${name}_betas")
    betas.select("g").distinct()
      .write.mode("overwrite").option("path", s"$location/subjects")
      .saveAsTable(s"${name}_subjects")
    Seq(datasetTag).toDF("dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether store `name` exists AND was sealed from `datasetTag`. */
  def storeMatches(spark: SparkSession, name: String,
      datasetTag: String): Boolean =
    graft.util.Snapshots.storeTagged(spark, name, Seq("betas", "subjects"), datasetTag)

  /** Admit subjects: append their (run, g, j, b_fp) facts —
    * subject-bounded work. `idempotent` anti-joins the subject guard to
    * skip replays cheaply; even without it (or when a crash landed between
    * the betas append and the guard write) a replay is harmless — the
    * facts are identical and the probe max-dedupes them. */
  def appendSubjects(spark: SparkSession, betas0: DataFrame, name: String,
      idempotent: Boolean = false): Unit = {
    val betas = if (!idempotent) betas0 else betas0.join(
      spark.table(s"${name}_subjects"), Seq("g"), "left_anti").localCheckpoint()
    betas.select("run", "g", "j", "b_fp")
      .write.mode("append")
      .bucketBy(8, "g").sortBy("g", "run", "j")
      .saveAsTable(s"${name}_betas")
    betas.select("g").distinct()
      .write.mode("append").saveAsTable(s"${name}_subjects")
  }

  /** The deduplicated (run, g, j, b_fp) relation as the store stands.
    * Refreshed first: admission may run in another session while a probe
    * stream is live (the q138 cross-writer lesson). */
  def betaRelation(spark: SparkSession, name: String): DataFrame = {
    spark.catalog.refreshTable(s"${name}_betas")
    spark.table(s"${name}_betas")
      .groupBy("run", "g", "j").agg(max("b_fp").as("b_fp"))
  }
}
