package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing tokenizer-MODEL store — train once, serve many (the r16
  * verdict's top item): a real 100 TB pipeline trains its tokenizer on a
  * corpus snapshot and applies it everywhere, yet q200/q201/q202/q206
  * each RETRAINED the unigram model (and q206 re-ran the BPE merge loop)
  * inside the query — four of the five most expensive suite members.
  * This store applies the q198/q143 standing-store discipline to the
  * trained-model family:
  *
  *   - `name_vocab`  (piece, cnt, lnp_fp): the q200 unigram vocabulary —
  *     exact integer counts and the 1e9-fixed-point serving log-probs,
  *     so a store round-trip is BIT-exact (BIGINT/VARCHAR columns only);
  *   - `name_merges` (round, left_sym, right_sym, freq): the learned BPE
  *     merge table (BpeOps.mergesDriver), round-ordered on read;
  *   - `name_meta`   (ulm_rounds, cap_v, bpe_rounds, dataset_tag): the
  *     guard — a serve can never silently use a model trained with
  *     different hyper-parameters or on a different dataset.
  *
  * Unlike the count stores (BigramStore, DSIR) a TRAINED model is not
  * additive — there is no delta-append path; the replay/staleness guard
  * is [[matches]]' full meta check, and a mismatch means retrain (the
  * overwrite is atomic per table: the meta pin is written LAST, so a
  * crashed build can never satisfy the guard). Serving against the
  * frozen model is a pure function of the batch — the streaming twin
  * (StreamOps.streamingTokenizerServe) exploits exactly this.
  *
  * Scale shape: build pays the one training price (one corpus word
  * aggregate + vocabulary-bounded EM; one word aggregate + driver merge
  * loop for BPE); every serve is a broadcast of the |vocab|-row model
  * against the caller's word stream — ZERO training-side work, zero
  * corpus re-scan beyond the caller's own.
  */
object TokenizerStore {

  /** Build-if-absent under a JVM-wide monitor: the Verify/Bench drivers
    * run queries CONCURRENTLY (8-wide), and several tokenizer queries
    * share one store — an unguarded check-then-build races saveAsTable
    * into TABLE_ALREADY_EXISTS. Builds happen once per dataset, so the
    * serialized check (a file listing of the meta seal) costs nothing. */
  def ensure(spark: SparkSession, docs: => DataFrame, name: String,
      location: String, ulmRounds: Int, capV: Int, bpeRounds: Int,
      datasetTag: String): Unit = synchronized {
    if (!matches(spark, name, datasetTag, ulmRounds, capV, bpeRounds))
      build(spark, docs, name, location, ulmRounds, capV, bpeRounds, datasetTag)
  }

  /** Train both model families on `docs` and persist them under `name`.
    * `bpeRounds = 0` skips BPE training (writes an empty merge table) —
    * the unigram-only caller (q207) shouldn't pay the merge loop. */
  def build(spark: SparkSession, docs: DataFrame, name: String,
      location: String, ulmRounds: Int, capV: Int, bpeRounds: Int,
      datasetTag: String): Unit = {
    import spark.implicits._
    val fin = UnigramLmOps.train(docs, ulmRounds, capV)
      .localCheckpoint() // model-sized; read twice (rows + total)
    fin.join(UnigramLmOps.modelOf(fin), Seq("piece"))
      .select("piece", "cnt", "lnp_fp")
      .write.mode("overwrite").option("path", s"$location/vocab")
      .saveAsTable(s"${name}_vocab")
    val merges =
      if (bpeRounds >= 1) BpeOps.mergesDriver(docs, bpeRounds)
      else Seq.empty[(Long, String, String, Long)]
        .toDF("round", "left_sym", "right_sym", "freq")
    merges.write.mode("overwrite").option("path", s"$location/merges")
      .saveAsTable(s"${name}_merges")
    Seq((ulmRounds, capV, bpeRounds, datasetTag))
      .toDF("ulm_rounds", "cap_v", "bpe_rounds", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether store `name` exists AND was trained from `datasetTag` with
    * exactly these hyper-parameters — anything else answers false →
    * retrain, never serve a stale or differently-tuned model. */
  def matches(spark: SparkSession, name: String, datasetTag: String,
      ulmRounds: Int, capV: Int, bpeRounds: Int): Boolean =
    graft.util.Snapshots.storeMatches(spark, name, Seq("vocab", "merges")) { m =>
      m.getAs[String]("dataset_tag") == datasetTag &&
        m.getAs[Int]("ulm_rounds") == ulmRounds &&
        m.getAs[Int]("cap_v") == capV &&
        m.getAs[Int]("bpe_rounds") == bpeRounds
    }

  /** The trained unigram vocabulary: (piece, cnt, lnp_fp). */
  def vocab(spark: SparkSession, name: String): DataFrame = {
    spark.catalog.refreshTable(s"${name}_vocab")
    spark.table(s"${name}_vocab")
  }

  /** The learned BPE merge pairs, round-ordered — driver-sized by the
    * same argument as the trainer's own merge table. */
  def bpeMergePairs(spark: SparkSession, name: String): Seq[(String, String)] = {
    spark.catalog.refreshTable(s"${name}_merges")
    spark.table(s"${name}_merges").orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }
}
