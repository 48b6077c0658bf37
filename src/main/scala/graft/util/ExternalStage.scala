package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.immutable.ArraySeq

/** O3 — external-tool stages (SURVEY.md §2.9; reference
  * `preprocess_parallel.sh:17-159`: recon-all / mri_convert / ANTs /
  * fmriprep chained via files). The reference shells out per subject; the
  * Spark-native equivalent is `RDD.pipe`: ONE subprocess per partition,
  * rows streamed through stdin/stdout as TSV lines — no temp files, no
  * driver round-trip, and the external binary inherits Spark's
  * parallelism/retry semantics (a failed task re-pipes its partition).
  *
  * This is the one operator family where dropping to the RDD layer is the
  * genuinely right call (per-partition imperative subprocess I/O has no
  * Catalyst expression form); everything around it — framing-byte guards,
  * schema projection, output typing — stays in the DataFrame layer so
  * upstream filters/pruning still push into the scan.
  *
  * Scale notes (100 TB): the stage is map-shaped (no exchange); throughput
  * is bounded by the external binary, one process per partition amortizes
  * spawn cost, and back-pressure is the pipe buffer. Rows must round-trip
  * the line protocol, so inputs carrying framing bytes (tab/newline) fail
  * LOUDLY via raise_error rather than silently corrupting downstream rows.
  */
object ExternalStage {

  /** Pipe `df` through `cmd` (argv vector, no shell), one subprocess per
    * partition. Input: one TSV line per row, columns in `df` order, cast
    * to string. Output: each stdout line parsed as TSV into `outSchema`
    * (split preserves trailing empties; columns cast from string to the
    * declared types). The command must emit exactly one line per input
    * line if row identity matters to the caller — that contract belongs
    * to the external tool, exactly as in the reference's file-based DAG.
    *
    * `enforceOneToOne = true` VERIFIES that contract per partition (rows
    * carry their own keys, so a dropped or added line re-associates
    * nothing — it just vanishes or appears; tools are trusted today the
    * way the reference's file DAG trusts them): input and output line
    * counts are compared in the same task and a mismatch fails the stage
    * loudly. Gated off by default because legitimately FILTERING tools
    * (a grep-shaped stage) break 1:1 on purpose.
    */
  def pipeTsv(df: DataFrame, cmd: Seq[String], outSchema: StructType,
      enforceOneToOne: Boolean = false): DataFrame = {
    require(cmd.nonEmpty, "need a command")
    val spark = df.sparkSession
    val guarded = df.columns.map { c =>
      val sc = col(c).cast("string")
      // null guard first: concat_ws SKIPS null elements (no separator left
      // behind), which would silently shift every later TSV field — the
      // exact corruption class this stage exists to prevent
      when(sc.isNull,
        raise_error(concat(lit(s"ExternalStage: null in column $c, row key="),
          coalesce(col(df.columns.head).cast("string"), lit("null")))))
        // \r included: the pipe's line reader treats a lone \r as a line
        // terminator, so it would silently split one row into two
        .when(sc.contains("\t") || sc.contains("\n") || sc.contains("\r"),
          raise_error(concat(lit(s"ExternalStage: framing byte in column $c, row key="),
            col(df.columns.head).cast("string"))))
        .otherwise(sc)
    }
    val lines = df.select(concat_ws("\t", ArraySeq.unsafeWrapArray(guarded): _*).as("line"))
      .rdd.map(_.getString(0))
    val piped0 = lines.pipe(cmd)
    // same-task count compare: pipe preserves partitioning, so input
    // partition i and output partition i meet in one task; the input
    // lineage is cheap to re-evaluate for the count
    val piped = if (!enforceOneToOne) piped0 else
      lines.zipPartitions(piped0) { (in, out) =>
        var nIn = 0L
        while (in.hasNext) { in.next(); nIn += 1 }
        val expected = nIn
        new Iterator[String] {
          private var nOut = 0L
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) require(nOut == expected,
              s"ExternalStage: command emitted $nOut lines for $expected " +
                "input lines — the 1:1 contract is violated (use " +
                "enforceOneToOne = false for filtering tools)")
            h
          }
          def next(): String = { nOut += 1; out.next() }
        }
      }
    val n = outSchema.fields.length
    val asRows = piped.map { ln =>
      val parts = ln.split("\t", -1)
      require(parts.length == n,
        s"ExternalStage: expected $n TSV fields, got ${parts.length}: $ln")
      Row.fromSeq(parts.toSeq)
    }
    val strSchema = StructType(outSchema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)))
    spark.createDataFrame(asRows, strSchema)
      .select(outSchema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }
}
