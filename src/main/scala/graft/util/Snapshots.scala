package graft.util

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-backed metadata, derived once per file snapshot.
  *
  * Three things the engine reads on every query build are pure functions
  * of files on disk: the parquet schema Spark infers for an input path (a
  * one-task Spark job per read), a standing store's one-row `_meta` seal
  * (a job per `head()`), and a model fitted from a store's tables (q143's
  * DSIR log-ratios). Each is kept here beside the snapshot it was derived
  * from and derived again only when that snapshot changes.
  *
  * A snapshot is the sorted (path, length, mtime) of every file under a
  * path or a catalog table's location, listed through the Hadoop
  * `FileSystem`: taking one runs no Spark job.
  *
  * Stamp assumption: Spark's writers never rewrite a data file in place.
  * Every write job names its files with a fresh UUID, so an append adds
  * names, and an overwrite, a rename swap or a compaction replaces them;
  * any change to the data therefore changes the snapshot. A foreign
  * writer that rewrote a file in place at the same length within one
  * mtime tick would go unseen.
  *
  * Keys are (site, path or qualified table name, the calling session's
  * parquet-inference confs — `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*`), so a hit returns exactly what the
  * uncached read would in that session. Each key holds ONE entry, replaced
  * when its snapshot changes: memory is bounded by the number of distinct
  * tables and paths read. Derivation runs outside any lock: callers that
  * miss together both derive and the later write wins, and a hit is served
  * only when the stored snapshot equals the caller's own, freshly taken
  * one — a race duplicates work, never returns a wrong value. A failed
  * derivation stores nothing.
  *
  * Every miss logs one JSON INFO line on logger `graft.snapshots` (site,
  * path or table, file count, reason `cold` or `changed`); a hit logs
  * nothing.
  */
object Snapshots {
  private[graft] type Snapshot = Vector[(String, Long, Long)]
  private final case class Key(site: String, id: String,
      confs: Seq[(String, String)])
  private final case class Entry(snapshot: Snapshot, value: Any)
  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val log = org.slf4j.LoggerFactory.getLogger("graft.snapshots")

  /** Every file under `path` (recursively; the path itself when it is a
    * file), sorted. A missing path has the empty snapshot, and the
    * derivation then fails exactly as the uncached read would. The walk
    * uses `listStatus`, not `listFiles`: the latter builds a
    * LocatedFileStatus per file, which reads the file's permission, and
    * on the local file system without Hadoop's native library that is
    * one `ls -ld` process per file. */
  private[graft] def snapshot(spark: SparkSession, path: String): Snapshot = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val b = Vector.newBuilder[(String, Long, Long)]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else b += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    try walk(p) catch { case _: java.io.FileNotFoundException => }
    b.result().sorted
  }

  private def parquetConfs(spark: SparkSession): Seq[(String, String)] =
    spark.sessionState.conf.getAllConfs.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted

  /** The value `derive` computes from the files under `path` (field `kind`
    * in the miss line names what the id is), reused while their snapshot
    * holds. */
  private def memo[V](spark: SparkSession, site: String, kind: String,
      id: String, path: String)(derive: => V): V = {
    val key = Key(site, id, parquetConfs(spark))
    val snap = snapshot(spark, path)
    val prior = entries.get(key)
    if (prior != null && prior.snapshot == snap) prior.value.asInstanceOf[V]
    else {
      log.info(s"""{"event":"snapshot_miss","site":"$site","$kind":"$id",""" +
        s""""files":${snap.size},"reason":"${if (prior == null) "cold" else "changed"}"}""")
      val v = derive
      entries.put(key, Entry(snap, v))
      v
    }
  }

  /** (qualified name, location) of catalog table `table`. */
  private def located(spark: SparkSession, table: String): (String, String) = {
    val md = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    (md.identifier.unquotedString, md.location.toString)
  }

  /** `spark.read.parquet(path)` with the inferred schema kept per snapshot:
    * only a miss runs the inference job. Every call builds a fresh
    * Dataset (fresh exprIds), so two reads of one path self-join. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val schema = memo[StructType](spark, "parquet", "path", path, path)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** A value derived from catalog table `table`'s files (`site` names the
    * derivation and any parameter it takes), kept per snapshot of the
    * table's location — an append, overwrite or compaction swap forces a
    * new derivation. */
  def ofTable[V](spark: SparkSession, site: String, table: String)(
      derive: => V): V = {
    val (qualified, location) = located(spark, table)
    memo(spark, site, "table", qualified, location)(derive)
  }

  /** The first row of `table` — a standing store's one-row `_meta` seal —
    * as of the table's current files (the session's cached relation is
    * refreshed on a miss, so another session's rewrite is seen). */
  def metaRow(spark: SparkSession, table: String): Row =
    ofTable(spark, "meta", table) {
      spark.catalog.refreshTable(table)
      spark.table(table).head()
    }

  /** The standing-store guard: every `name_<t>` table of `tables` and
    * `name_<meta>` exists, and the meta row passes `ok`. A missing table,
    * an unreadable meta row or a failing `ok` (tag mismatch, geometry
    * drift) all answer false — rebuild, never probe a stale store. */
  def storeMatches(spark: SparkSession, name: String, tables: Seq[String],
      meta: String = "meta")(ok: Row => Boolean): Boolean =
    (tables :+ meta).forall(t => spark.catalog.tableExists(s"${name}_$t")) &&
      (try ok(metaRow(spark, s"${name}_$meta"))
       catch { case NonFatal(_) => false })

  /** [[storeMatches]] for the common seal: `name_meta.dataset_tag` equals
    * `tag`. */
  def storeTagged(spark: SparkSession, name: String, tables: Seq[String],
      tag: String): Boolean =
    storeMatches(spark, name, tables)(_.getAs[String]("dataset_tag") == tag)
}
