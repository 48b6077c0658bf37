package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Generalized ADDITIVE delta store — the BigramStore/DSIR count-delta
  * discipline (per-batch fingerprinted deltas, probe-side
  * (batch_fp, key) max-dedup, NULL-key tombstones, sibling-swap fold)
  * extracted so any additive-count state can use it without re-deriving
  * the idempotence argument. Schema of `table`:
  * (batch_fp BIGINT, keyCols..., valCols...).
  *
  *  - [[append]]: one batch-sized write; an at-least-once redelivery of
  *    the SAME batch fingerprint appends identical rows, which
  *    [[live]]'s max-dedup collapses — additive counts stay exact with
  *    no read-before-write guard.
  *  - [[live]]: the store's exact current counts — drop replayed deltas
  *    of already-folded batches (tombstone anti-join), dedupe live
  *    deltas on (batch_fp, keys), sum deltas + base.
  *  - [[compact]]: fold O(batches) delta rows into ONE base row set
  *    (sentinel batch_fp −1) plus one tombstone row per absorbed batch
  *    (NULL keys — genuine keys are never NULL), swapped in atomically
  *    via BucketedStores.swapContents. A batch replayed AFTER its fold
  *    re-appends deltas that the tombstone anti-join discards —
  *    [[live]] is invariant across the fold and across post-fold
  *    replays (spec-pinned).
  *
  * Residual window (shared with every member of the family): a
  * redelivery under a DIFFERENT fingerprint double-counts — Structured
  * Streaming's checkpointed restart redelivers the same batchId, so
  * that needs a source replaying outside the checkpoint contract.
  *
  * SINGLE WRITER REQUIRED (r18 ADVICE): [[compact]] reads the table,
  * folds it, and swaps the fold in — a delta appended by ANOTHER writer
  * between the read and the swap is silently discarded by the swap.
  * Run compact from the same foreachBatch loop that appends (Structured
  * Streaming serializes batches per query), never out-of-band beside a
  * live writer. Crash-interrupted swaps are repaired, not re-lost:
  * every entry point first runs [[BucketedStores.recoverSwap]], which
  * finishes a fold that crashed between DROP and RENAME (the window
  * where append() would otherwise recreate an EMPTY store and
  * permanently lose every folded count) and discards a half-written
  * fold sibling when the source table survived.
  *
  * Value columns must be BIGINT (enforced at [[compact]]): the fold
  * casts its sums back to the declared column type, and a narrower
  * declared type (e.g. INT) could silently wrap a fold that live()'s
  * always-BIGINT sum reports exactly — a fold must be live-invariant.
  */
object DeltaStore {

  /** Sentinel batch_fp of folded base rows — real fingerprints must be
    * ≥ 0 (streaming batchIds are). */
  val BaseFp: Long = -1L

  /** Append `delta` (key + value columns, NO batch_fp) under `batchFp`;
    * creates the table as EXTERNAL at `location` on first touch. The
    * path option rides only the CREATING write — after a [[compact]]
    * the table lives at a swap sibling, and re-specifying the original
    * path would mismatch the catalog location. */
  def append(spark: SparkSession, table: String, location: String,
      delta: DataFrame, batchFp: Long): Unit = {
    require(batchFp >= 0, s"batchFp must be >= 0 (got $batchFp): " +
      s"${BaseFp} is the fold sentinel")
    BucketedStores.recoverSwap(spark, table)
    val w = delta.select(lit(batchFp).as("batch_fp") +: ArraySeq.unsafeWrapArray(delta.columns).map(col): _*)
      .write.mode("append").format("parquet")
    (if (spark.catalog.tableExists(table)) w else w.option("path", location))
      .saveAsTable(table)
  }

  /** Exact current (keyCols..., valCols...) counts. */
  def live(spark: SparkSession, table: String, keyCols: Seq[String],
      valCols: Seq[String]): DataFrame = {
    BucketedStores.recoverSwap(spark, table)
    spark.catalog.refreshTable(table)
    val all = spark.table(table)
    val folded = all.filter(col(keyCols.head).isNull).select("batch_fp")
    val deduped = all.filter(col(keyCols.head).isNotNull)
      .join(broadcast(folded), Seq("batch_fp"), "left_anti")
      .groupBy(("batch_fp" +: keyCols).map(col): _*)
      .agg(max(valCols.head).as(valCols.head),
        valCols.tail.map(c => max(c).as(c)): _*)
    deduped
      .groupBy(keyCols.map(col): _*)
      .agg(sum(valCols.head).as(valCols.head),
        valCols.tail.map(c => sum(c).as(c)): _*)
  }

  /** Fold accumulated deltas into base + tombstones (live-invariant).
    * Single-writer only — see the object scaladoc: run inside the same
    * foreachBatch loop that appends, never beside a live writer.
    * Returns (rows before, rows after). */
  def compact(spark: SparkSession, table: String, keyCols: Seq[String],
      valCols: Seq[String]): (Long, Long) = {
    BucketedStores.recoverSwap(spark, table)
    spark.catalog.refreshTable(table)
    val all = spark.table(table).localCheckpoint() // swap drops its source
    val schema = all.schema
    valCols.foreach { c =>
      require(schema(c).dataType == org.apache.spark.sql.types.LongType,
        s"DeltaStore value column $c must be BIGINT (got " +
          s"${schema(c).dataType.simpleString}): the fold casts sums back " +
          "to the declared type and a narrower type could silently wrap " +
          "where live()'s BIGINT sum is exact")
    }
    def typedNull(c: String) =
      lit(null).cast(schema(c).dataType).as(c)
    val folded = all.filter(col(keyCols.head).isNull).select("batch_fp")
    val liveRows = all.filter(col(keyCols.head).isNotNull)
      .join(broadcast(folded), Seq("batch_fp"), "left_anti")
      .groupBy(("batch_fp" +: keyCols).map(col): _*)
      .agg(max(valCols.head).as(valCols.head),
        valCols.tail.map(c => max(c).as(c)): _*)
      .localCheckpoint() // base + tombstones both read it
    val base = liveRows
      .groupBy(keyCols.map(col): _*)
      .agg(sum(valCols.head).as(valCols.head),
        valCols.tail.map(c => sum(c).as(c)): _*)
      .select(lit(BaseFp).as("batch_fp") +:
        (keyCols.map(col) ++ valCols.map(c => col(c).cast(schema(c).dataType))): _*)
    val tombs = liveRows.filter(col("batch_fp") =!= BaseFp)
      .select("batch_fp").union(folded).distinct()
      .select(col("batch_fp") +:
        (keyCols.map(typedNull) ++ valCols.map(typedNull)): _*)
    val before = all.count()
    BucketedStores.swapContents(spark, table, base.unionByName(tombs))
    spark.catalog.refreshTable(table)
    (before, spark.table(table).count())
  }
}
