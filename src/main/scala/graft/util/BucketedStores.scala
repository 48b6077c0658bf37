package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Maintenance for the standing bucketed stores (text band index, vector
  * index, perceptual index, segment-frequency store): every idempotent
  * append writes a NEW file set per bucket, so a nightly admission loop
  * accumulates O(batches) small files per bucket — at a year of nightly
  * batches that is hundreds of files per bucket, and probe-side scan cost
  * starts tracking file count instead of data size. `compact` rewrites a
  * table to one file set per bucket, PRESERVING its bucket/sort spec (so
  * probes stay exchange-free) and its contents bit-for-bit (spec-pinned:
  * probe results identical before/after; appends keep working after).
  *
  * Swap protocol (the label-store sibling discipline): write the full
  * compacted copy to a sibling location under a NEW table name, then
  * drop the old catalog entry, rename the sibling into the name, and
  * only then delete the old files. Crash windows: before the drop —
  * nothing changed (sibling is garbage, rebuilt next run); between drop
  * and rename — the name is absent, which every store's `*Matches` guard
  * reads as "rebuild", never as a silently-partial store; after the
  * rename — only the old file cleanup remains, re-runnable. True
  * no-window atomicity needs a table format with atomic commit; at
  * 100 TB use one.
  */
object BucketedStores {

  /** Marker file written INSIDE the sibling location before the DROP,
    * holding the old table's location: the DROP loses the catalog's
    * only record of where the replaced files live, so a crash between
    * DROP and RENAME would otherwise orphan a full copy of the store on
    * disk forever. `_`-prefixed so parquet scans ignore it (the
    * `_SUCCESS` convention); it rides the rename with the directory and
    * is deleted with the old files on the happy path, or by
    * [[recoverSwap]]'s finish-rename branch. */
  private val OldLocMarker = "_graft_swap_oldloc"

  private def writeOldLocMarker(spark: SparkSession, newLoc: Path,
      oldLoc: Path): Unit = {
    val fs = newLoc.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(newLoc, OldLocMarker), true)
    try out.write(oldLoc.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Delete the location named by `loc`'s marker (if any), then the
    * marker itself. Idempotent; a marker pointing at `loc` itself is
    * ignored (can't happen by construction, but never self-delete). */
  private def cleanupOldLoc(spark: SparkSession, loc: Path): Unit = {
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(loc, OldLocMarker)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val old = try {
      val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
      in.readFully(buf); new Path(new String(buf, "UTF-8"))
    } finally in.close()
    if (old.toString != loc.toString && fs.exists(old)) fs.delete(old, true)
    fs.delete(marker, false)
  }

  /** Files currently backing `table` (data files only). */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val loc = new Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(loc)) 0
    else fs.listStatus(loc).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Compact `table` to one file set, preserving bucket and sort spec.
    * Returns (files before, files after). */
  def compact(spark: SparkSession, table: String): (Int, Int) =
    rewrite(spark, table, identity)

  /** [[compact]] that also collapses exact-duplicate rows — the fold for
    * FACT stores whose probes `distinct()` anyway (the eval-gram pair
    * store): unguarded at-least-once replays append identical rows that
    * cost file space and probe-side scan work forever; folding them is
    * probe-invariant by construction. */
  def compactDistinct(spark: SparkSession, table: String): (Int, Int) =
    rewrite(spark, table, _.distinct())

  private def rewrite(spark: SparkSession, table: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (Int, Int) = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not bucketed"))
    val before = dataFileCount(spark, table)
    val oldLoc = new Path(meta.location)
    val newLoc = new Path(oldLoc.getParent,
      oldLoc.getName + "_c" + System.nanoTime())
    val tmpTable = table + "__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    // One shuffle to the bucket layout, then one sorted file per bucket.
    // Read the FILES, not the catalog table: a bucketed-table scan claims
    // the target partitioning, so the planner elides the repartition but
    // delivers plain file splits — tasks then hold mixed buckets and the
    // writer emits one file per (task, bucket) again. A plain parquet
    // read forces a real shuffle; HashPartitioning(bucketCols, n) is
    // exactly the bucket-id function, so each task owns one whole bucket.
    // The catalog already holds the files' schema, so the read infers
    // nothing (no inference job; no per-location entry in Snapshots for a
    // location the swap is about to delete).
    val src = transform(spark.read.schema(meta.schema).parquet(meta.location.toString))
    val writer = src
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(src.col): _*)
      .write.mode("overwrite").option("path", newLoc.toString)
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
       writer.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
     else writer)
      .saveAsTable(tmpTable)
    writeOldLocMarker(spark, newLoc, oldLoc)
    spark.sql(s"DROP TABLE $table") // external: catalog entry only
    spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
    val fs = oldLoc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(oldLoc, true)
    cleanupOldLoc(spark, newLoc)
    (before, dataFileCount(spark, table))
  }

  /** Replace a NON-bucketed table's contents with `df` via the same
    * sibling-swap protocol (the additive delta stores' fold path). `df`
    * MUST be materialized (e.g. localCheckpoint) before the call when it
    * derives from `table` itself — the swap drops the table it came
    * from. Crash windows are [[compact]]'s: before the drop nothing
    * changed; between drop and rename the name is absent and the store's
    * `*Matches` guard reads "rebuild"; after the rename only the old
    * file cleanup remains, re-runnable. */
  /** Repair an interrupted [[swapContents]]/[[compact]] for stores whose
    * contents are NOT rebuildable from a corpus (the DeltaStore family —
    * folded counts exist nowhere else, so the "name absent ⇒ rebuild"
    * reading other stores rely on would silently lose them). Two crash
    * windows, both detectable from the catalog alone:
    *
    *  - `table` missing but `table__compact` present: the crash fell
    *    between DROP and RENAME — the sibling holds the COMPLETE folded
    *    contents; finish the rename.
    *  - both present: the crash fell between writing the sibling and the
    *    DROP — the original is still authoritative; discard the sibling
    *    (its files too — the half-commit may be partially written).
    *
    * Idempotent and cheap (catalog probes only on the happy path); the
    * delta stores call it before every append/live/compact. */
  def recoverSwap(spark: SparkSession, table: String): Unit = {
    val tmpTable = table + "__compact"
    if (!spark.catalog.tableExists(tmpTable)) return
    if (!spark.catalog.tableExists(table)) {
      spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
      // The DROP lost the replaced files' catalog record; the sibling's
      // marker (written before the DROP) names them — delete, so a
      // repaired crash does not permanently orphan a copy of the store.
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      cleanupOldLoc(spark, new Path(meta.location))
    } else {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(tmpTable))
      val loc = new Path(meta.location)
      spark.sql(s"DROP TABLE $tmpTable") // external: catalog entry only
      loc.getFileSystem(spark.sessionState.newHadoopConf()).delete(loc, true)
    }
  }

  def swapContents(spark: SparkSession, table: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = catalog.getTableMetadata(ident)
    val oldLoc = new Path(meta.location)
    val newLoc = new Path(oldLoc.getParent,
      oldLoc.getName + "_c" + System.nanoTime())
    val tmpTable = table + "__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    df.write.mode("overwrite").option("path", newLoc.toString)
      .saveAsTable(tmpTable)
    writeOldLocMarker(spark, newLoc, oldLoc)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
    val fs = oldLoc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(oldLoc, true)
    cleanupOldLoc(spark, newLoc)
  }
}
