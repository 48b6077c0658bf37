package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing bigram language model — the q143 road applied to q165's
  * Kneser–Ney family (the wall SCALE.md named: at ~10⁹ bigram TYPES the
  * model-sized pin becomes a stored standing model).
  *
  * State is ADDITIVE count deltas, the aggregating member of the
  * standing-store family: `name_bigrams` holds per-batch (w1, w2, bf)
  * deltas and `name_grams` per-batch (w, cf) unigram deltas (the exact
  * vocabulary-size source — bigrams alone cannot see a one-token
  * document), each row carrying its batch fingerprint; `name_docs` is
  * the cheap replay guard; `name_meta` records the dataset tag. Batch
  * admission appends batch-sized deltas — the corpus is never
  * re-counted. KN's type-count statistics (n1l, n1r, T) are NOT additive
  * across batches, so they are never stored: the serve derives them from
  * the exactly re-aggregated live bf relation, which IS additive.
  *
  * Serving caps the model at the top-V bigram types by (bf DESC, w1, w2)
  * — q161's frozen-serving discipline at the bigram grain: a serving
  * tier holds a bounded model, and the cut is a TOTAL order so the
  * capped model is engine- and partitioning-independent. Dropped types
  * fall through KN's own unseen-context/continuation branches.
  *
  * Scale shape: admission is one batch-sized aggregate per table;
  * probe-side dedup is (batch_fp, key)-grained max-then-sum (the q143
  * idempotence argument — a crash-replayed identical delta collapses);
  * the serve reads the model store only, ZERO corpus-side exchange. The
  * cap is a TakeOrdered over the model relation, never a global sort.
  * The delta-compaction fold (q143's `compactDsirStore` sibling-swap) is
  * the documented next step of this family when admission cadence makes
  * O(batches) delta rows the probe bottleneck.
  */
object BigramStore {

  private val P = TextOps.P

  /** Content-derived batch fingerprint (order-free, mod-P sums of id and
    * text hashes — the CurationOps construction, sans target predicate). */
  private def batchFingerprint(docs: DataFrame): Long = {
    val r = docs.agg(
      sum(pmod(col("doc_id"), lit(P)) * lit(31L) % lit(P)).as("s1"),
      sum(pmod(col("doc_id"), lit(P)) * pmod(col("doc_id"), lit(P)) % lit(P)).as("s2"),
      sum(pmod(graft.functions.Hashing.poly_hash(col("text")), lit(P))).as("s3"),
      count(lit(1)).as("n")).head()
    if (r.isNullAt(0)) 0L
    else Seq(r.getLong(0) % P, r.getLong(1) % P, r.getLong(2) % P)
      .foldLeft(0L)((acc, x) => (acc * 31 + x) % P) * 1000003 + r.getLong(3)
  }

  private def bigramDelta(docs: DataFrame, fp: Long): DataFrame =
    RetrievalOps.knPairs(docs)
      .groupBy("w1", "w2").agg(count(lit(1)).as("bf"))
      .select(lit(fp).as("batch_fp"), col("w1"), col("w2"), col("bf"))

  private def unigramDelta(docs: DataFrame, fp: Long): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cf"))
      .select(lit(fp).as("batch_fp"), col("w"), col("cf"))

  def build(spark: SparkSession, docs: DataFrame, name: String,
      location: String, datasetTag: String = ""): Unit = {
    import spark.implicits._
    val fp = batchFingerprint(docs)
    bigramDelta(docs, fp)
      .write.mode("overwrite").option("path", s"$location/bigrams")
      .saveAsTable(s"${name}_bigrams")
    unigramDelta(docs, fp)
      .write.mode("overwrite").option("path", s"$location/grams")
      .saveAsTable(s"${name}_grams")
    docs.select("doc_id")
      .write.mode("overwrite").option("path", s"$location/docs")
      .bucketBy(8, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
    Seq(Tuple1(datasetTag)).toDF("dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether store `name` exists AND was built from `datasetTag`. */
  def matches(spark: SparkSession, name: String, datasetTag: String): Boolean =
    graft.util.Snapshots.storeTagged(spark, name,
      Seq("bigrams", "grams", "docs"), datasetTag)

  /** Admit a batch: append its bigram/unigram count deltas — batch-sized
    * work. `idempotent` anti-joins the doc guard to skip replays; even an
    * unguarded replay of an identical delta is collapsed probe-side by
    * the (batch_fp, key) max-dedup. */
  def append(spark: SparkSession, newDocs0: DataFrame, name: String,
      idempotent: Boolean = false): Unit = {
    val newDocs = if (!idempotent) newDocs0 else newDocs0.join(
      spark.table(s"${name}_docs"), Seq("doc_id"), "left_anti").localCheckpoint()
    val fp = batchFingerprint(newDocs)
    bigramDelta(newDocs, fp).write.mode("append").saveAsTable(s"${name}_bigrams")
    unigramDelta(newDocs, fp).write.mode("append").saveAsTable(s"${name}_grams")
    newDocs.select("doc_id")
      .write.mode("append")
      .bucketBy(8, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_docs")
  }

  /** Sentinel batch_fp of the folded BASE rows a compaction writes —
    * genuine fingerprints are always ≥ 0 ([[batchFingerprint]]). */
  private val BaseFp = -1L

  /** Tombstone rows (recording an absorbed batch_fp) carry a NULL key —
    * genuine tokens/bigram members are never NULL. They live in the same
    * table as the counts so the fold is one atomic sibling swap (the
    * CurationOps compaction argument). */
  private def liveDeltas(spark: SparkSession, table: String,
      keyCols: Seq[String], valCol: String): DataFrame = {
    spark.catalog.refreshTable(table)
    val all = spark.table(table)
    val folded = all.filter(col(keyCols.head).isNull).select("batch_fp")
    all.filter(col(keyCols.head).isNotNull)
      .join(broadcast(folded), Seq("batch_fp"), "left_anti")
      .groupBy(("batch_fp" +: keyCols).map(col): _*)
      .agg(max(valCol).as(valCol))
      .groupBy(keyCols.map(col): _*).agg(sum(valCol).as(valCol))
  }

  /** The store's exact (w1, w2, bf) counts as it stands: drop replayed
    * deltas of folded batches (tombstone anti-join), dedupe live deltas
    * on (batch_fp, key), then sum deltas + base. */
  private def liveBigrams(spark: SparkSession, name: String): DataFrame =
    liveDeltas(spark, s"${name}_bigrams", Seq("w1", "w2"), "bf")

  private def liveVSize(spark: SparkSession, name: String): DataFrame =
    liveDeltas(spark, s"${name}_grams", Seq("w"), "cf")
      .agg(count(lit(1)).as("v_size"))

  private def compactTable(spark: SparkSession, table: String,
      keyCols: Seq[String], valCol: String): (Long, Long) = {
    spark.catalog.refreshTable(table)
    val all = spark.table(table).localCheckpoint()
    val folded = all.filter(col(keyCols.head).isNull).select("batch_fp")
    val live = all.filter(col(keyCols.head).isNotNull)
      .join(broadcast(folded), Seq("batch_fp"), "left_anti")
      .groupBy(("batch_fp" +: keyCols).map(col): _*)
      .agg(max(valCol).as(valCol))
    val base = live.groupBy(keyCols.map(col): _*)
      .agg(sum(valCol).as(valCol))
      .select(lit(BaseFp).as("batch_fp") +: keyCols.map(col) :+ col(valCol): _*)
    val tombs = live.filter(col("batch_fp") =!= BaseFp)
      .select("batch_fp").union(folded).distinct()
      .select(col("batch_fp") +:
        keyCols.map(k => lit(null).cast("string").as(k)) :+
        lit(0L).as(valCol): _*)
    val before = all.count()
    graft.util.BucketedStores.swapContents(spark, table,
      base.unionByName(tombs))
    spark.catalog.refreshTable(table)
    (before, spark.table(table).count())
  }

  /** Fold accumulated per-batch delta rows into ONE base count set plus
    * tombstones per table — the q143 compaction applied to this family:
    * without the fold, every serve re-reads O(batches) delta rows.
    * Replay idempotency survives: a replayed pre-fold batch re-appends
    * deltas, the serve anti-joins them against the tombstones, verdict
    * unchanged (spec-pinned). Returns (rows before, rows after) summed
    * over the bigram + unigram tables. */
  def compact(spark: SparkSession, name: String): (Long, Long) = {
    val (b1, a1) = compactTable(spark, s"${name}_bigrams", Seq("w1", "w2"), "bf")
    val (b2, a2) = compactTable(spark, s"${name}_grams", Seq("w"), "cf")
    (b1 + b2, a1 + a2)
  }

  /** The capped model relation (pre-checkpoint — plan-shape-pinnable):
    * top-V bigram types by the total (bf DESC, w1, w2) order, which must
    * plan as a TakeOrdered, never a global vocabulary sort. */
  private[graft] def cappedBigrams(spark: SparkSession, name: String,
      topV: Int): DataFrame =
    liveBigrams(spark, name)
      .orderBy(col("bf").desc, col("w1"), col("w2"))
      .limit(topV)

  /** Serve KN scoring of arrivals from the standing model, capped at the
    * top-V bigram types — identical verdict to fitting q165's model on
    * the admitted corpus, capping, and scoring (the oracle's form). */
  def serveKn(spark: SparkSession, arrivals: DataFrame, name: String,
      topV: Int): DataFrame = {
    val capped = cappedBigrams(spark, name, topV)
      .localCheckpoint() // model-sized pin: 4 aggregate consumers
    RetrievalOps.knScore(RetrievalOps.knPairs(arrivals), capped,
      liveVSize(spark, name))
  }

  // ======== trigram extension (q211): the family generalized in n ========
  // One more ADDITIVE delta table (`name_trigrams`: batch_fp, w1, w2, w3,
  // tf) on top of the existing bigram/unigram/docs tables — the same
  // fingerprint dedup, tombstone compaction, and capped-serve discipline
  // apply verbatim because [[liveDeltas]]/[[compactTable]] are
  // key-generic. The serve is stupid backoff (Brants et al. 2007, the
  // q98 construction raised one order): trigram ML → 0.4 · bigram ML →
  // 0.4² · add-one unigram, every level's context total derived from the
  // SAME capped relation it scores from (the serveKn discipline), so the
  // capped model is self-consistent and engine-independent.

  /** (doc_id, w1, w2, w3) sliding triples; slice lengths are
    * greatest-guarded because Spark's sequence/slice DESCENDS or throws
    * on negative lengths for texts shorter than 3 tokens. */
  private def knTriples(d: DataFrame): DataFrame = d
    .select(col("doc_id"), explode(expr(
      """zip_with(
        |  zip_with(
        |    slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 2, 0)),
        |    slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 2, 0)),
        |    (a, b) -> struct(a AS w1, b AS w2)),
        |  slice(split(text, ' '), 3, greatest(size(split(text, ' ')) - 2, 0)),
        |  (p, c) -> struct(p.w1 AS w1, p.w2 AS w2, c AS w3))""".stripMargin))
      .as("p"))
    .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"),
      col("p.w3").as("w3"))

  private def trigramDelta(docs: DataFrame, fp: Long): DataFrame =
    knTriples(docs)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("tf"))
      .select(lit(fp).as("batch_fp"), col("w1"), col("w2"), col("w3"), col("tf"))

  /** [[build]] plus the trigram delta table. */
  def buildTri(spark: SparkSession, docs: DataFrame, name: String,
      location: String, datasetTag: String = ""): Unit = {
    trigramDelta(docs, batchFingerprint(docs))
      .write.mode("overwrite").option("path", s"$location/trigrams")
      .saveAsTable(s"${name}_trigrams")
    build(spark, docs, name, location, datasetTag)
  }

  def matchesTri(spark: SparkSession, name: String, datasetTag: String): Boolean =
    spark.catalog.tableExists(s"${name}_trigrams") &&
      matches(spark, name, datasetTag)

  /** [[append]] plus the trigram delta — the trigram rows land BEFORE the
    * doc guard (inside [[append]]) so a crash-replay can only re-append
    * an identical delta, which the (batch_fp, key) max-dedup collapses. */
  def appendTri(spark: SparkSession, newDocs0: DataFrame, name: String,
      idempotent: Boolean = false): Unit = {
    val newDocs = if (!idempotent) newDocs0 else newDocs0.join(
      spark.table(s"${name}_docs"), Seq("doc_id"), "left_anti").localCheckpoint()
    trigramDelta(newDocs, batchFingerprint(newDocs))
      .write.mode("append").saveAsTable(s"${name}_trigrams")
    append(spark, newDocs, name)
  }

  /** [[compact]] plus the trigram table fold. */
  def compactTri(spark: SparkSession, name: String): (Long, Long) = {
    val (b3, a3) = compactTable(spark, s"${name}_trigrams",
      Seq("w1", "w2", "w3"), "tf")
    val (b, a) = compact(spark, name)
    (b + b3, a + a3)
  }

  private[graft] def cappedTrigrams(spark: SparkSession, name: String,
      topV: Int): DataFrame =
    liveDeltas(spark, s"${name}_trigrams", Seq("w1", "w2", "w3"), "tf")
      .orderBy(col("tf").desc, col("w1"), col("w2"), col("w3"))
      .limit(topV)

  /** The shared stupid-backoff score string (1e9 fixed point; needs cols
    * tf, c12, bf, c2, cf3, t_total, v_size — NULL-driven level choice). */
  val backoffLnpStr: String =
    "CASE WHEN tf IS NOT NULL THEN " +
      "CAST(round(ln(CAST(tf AS DOUBLE) / c12) * 1e9, 0) AS BIGINT) " +
      "WHEN bf IS NOT NULL THEN " +
      "CAST(round(ln(0.4) * 1e9, 0) AS BIGINT) " +
      "+ CAST(round(ln(CAST(bf AS DOUBLE) / c2) * 1e9, 0) AS BIGINT) " +
      "ELSE " +
      "CAST(round(ln(0.4) * 1e9, 0) AS BIGINT) " +
      "+ CAST(round(ln(0.4) * 1e9, 0) AS BIGINT) " +
      "+ CAST(round(ln((CAST(COALESCE(cf3, 0) AS DOUBLE) + 1.0) " +
      "/ CAST(t_total + v_size AS DOUBLE)) * 1e9, 0) AS BIGINT) END"

  /** Serve stupid-backoff trigram scoring of arrivals from the standing
    * model, trigrams and bigrams each capped at their top-V types:
    * (doc_id, n_triples, ppl). */
  def serveBackoff(spark: SparkSession, arrivals: DataFrame, name: String,
      topV: Int): DataFrame = {
    val tri = cappedTrigrams(spark, name, topV).localCheckpoint()
    val bi = cappedBigrams(spark, name, topV).localCheckpoint()
    val uni = liveDeltas(spark, s"${name}_grams", Seq("w"), "cf")
      .localCheckpoint() // vocab-sized; 2 consumers (cf3 + totals)
    val c12 = tri.groupBy("w1", "w2").agg(sum("tf").as("c12"))
    val c2 = bi.groupBy("w1").agg(sum("bf").as("c2"))
      .selectExpr("w1 AS w2", "c2")
    val st = uni.agg(sum("cf").as("t_total"), count(lit(1)).as("v_size"))
    knTriples(arrivals)
      .join(broadcast(tri), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(c12), Seq("w1", "w2"), "left")
      .join(broadcast(bi.selectExpr("w1 AS w2", "w2 AS w3", "bf")),
        Seq("w2", "w3"), "left")
      .join(broadcast(c2), Seq("w2"), "left")
      .join(broadcast(uni.selectExpr("w AS w3", "cf AS cf3")), Seq("w3"), "left")
      .crossJoin(broadcast(st))
      .selectExpr("doc_id", s"$backoffLnpStr AS lnp_fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triples"), sum("lnp_fp").as("s_fp"))
      .selectExpr("doc_id", "n_triples",
        "round(exp(-(CAST(s_fp AS DOUBLE) / 1e9) / n_triples), 6) AS ppl")
  }
}
