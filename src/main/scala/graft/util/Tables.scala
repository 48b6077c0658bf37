package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)`; these helpers
  * centralize the parquet reads so scans stay prunable (the parquet source
  * pushes filters/column pruning automatically — SURVEY.md §4). The
  * inferred schema is kept per file snapshot ([[Snapshots.parquet]]), so a
  * query build over unchanged inputs runs no schema-inference job.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Snapshots.parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  /** `events` with `ts` normalized to BIGINT NANOSECONDS since the epoch —
    * the engine-wide ts convention (every consumer computes micros as
    * `ts div 1000`). Earlier driver drops stored ts as parquet
    * TIMESTAMP(NANOS), which Spark has no type for and surfaces as BIGINT
    * nanos; the current drop stores TIMESTAMP(MICROS) → TIMESTAMP_NTZ, so
    * the load re-derives the same nanos integer (session timezone is
    * pinned to UTC in every entrypoint, making the NTZ→epoch conversion
    * timezone-free). Handles both vintages so the convention is stable
    * whatever the driver wrote. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTsNanos(table(s, d, "events"))

  /** Normalize an event-shaped frame's `ts` to the epoch-NANOS BIGINT
    * convention, whatever vintage it carries — shared by the batch
    * `events` loader and the streaming twins, so a stream wired over
    * the TIMESTAMP_NTZ drop behaves exactly like the batch path. */
  def normalizeTsNanos(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        // wall-clock-as-UTC: the NTZ value's stored microseconds, read
        // directly — timezone-free, so no session mutation (a
        // cast-to-timestamp route would read the session timezone)
        raw.withColumn("ts",
          graft.functions.NtzMicros.ntz_micros(col("ts")) * 1000L)
      case _ =>
        // instant-typed vintage: unix_micros reads the instant directly
        // (timezone-free)
        raw.withColumn("ts", expr("unix_micros(ts) * 1000L"))
    }
  }

  /** Day / hour grain of the nanos-BIGINT `ts` convention — ONE site, so
    * the batch queries, their streaming twins, and any future caller
    * cannot drift apart on the grain arithmetic.
    *
    * FLOOR semantics, exactly (the r17 ADVICE pre-epoch note): Spark's
    * `div` truncates toward zero while the DuckDB oracle's `//` floors,
    * so the grain is computed as floorDiv(ts, grain_ns) in pure integer
    * arithmetic — `(ts - pmod(ts, n)) div n` — identical to the old
    * expression for ts >= 0 (every recorded hash unchanged) and a true
    * calendar bucket for pre-epoch instants (−1 ns lands in day −1, not
    * day 0). One residual documented corner: the oracle reaches the day
    * via epoch_us(ts) first, so a TIMESTAMP_NS instant in (−1 µs, 0)
    * could still differ if DuckDB's ns→µs conversion truncates — the
    * fixtures are all post-1970 and the contract stays "ts ≥ 0 for the
    * oracle-checked grain queries"; engine-side semantics are now
    * well-defined for any sign. */
  private def tsFloorDiv(n: Long) = s"CAST((ts - pmod(ts, ${n}L)) div ${n}L AS BIGINT)"
  val tsNanosDay = tsFloorDiv(86400000000000L)
  val tsNanosHour = tsFloorDiv(3600000000000L)
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
