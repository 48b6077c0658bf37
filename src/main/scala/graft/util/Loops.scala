package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loop-state checkpointing for iterative kernels.
  *
  * `Dataset.localCheckpoint` truncates LINEAGE but carries the ORIGIN
  * plan's statistics onto the resulting LogicalRDD — and Catalyst's
  * size-only stats visitor estimates most multi-child nodes as the
  * PRODUCT of their children's sizeInBytes. An iterative plan that
  * references its own previous state k times per round therefore grows
  * its carried sizeInBytes estimate like k^rounds in DIGIT COUNT — a
  * pure driver-side BigInteger blowup, measured at 9.6 MILLION digits
  * after q239's two Louvain levels (12 rows of data!), where every
  * downstream stats visit then burns tens of seconds inside
  * BigInteger.multiply (jstack-confirmed: ToomCook3 on the Catalyst
  * size visitor's product fold).
  *
  * [[fresh]] rebases the checkpointed RDD through createDataFrame,
  * which resets the estimate to the default constant: stats stay
  * bounded at every round and planning time stays flat across
  * arbitrarily many rounds. The rows pass one Row↔InternalRow
  * conversion — use ONLY for bounded (atlas-class) loop-state
  * relations, which is what the iterative kernels checkpoint anyway.
  * Explicit broadcast() hints at the consumers are unaffected (hints
  * never read the estimate); implicit broadcast decisions were already
  * off for checkpointed state (default-size = above threshold), so
  * physical plans are unchanged — only planning-time arithmetic.
  */
object Loops {
  /** localCheckpoint + stats rebase — see the object scaladoc. */
  def fresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Hard ceiling on [[pin]]/[[pinRows]] state size: these are for
    * atlas-class loop state (parcels, modules, BFS layers — ≤ 10⁵-10⁶
    * rows by construction at any data scale), and a loud failure beats a
    * silent driver OOM if a future caller ever hands them something
    * data-sized. */
  val PinMaxRows = 8 * 1000 * 1000

  /** Size gate of the dedup connected-component kernels (DedupOps
    * ccLabels / ccLabelsAlternating): their pair graphs are DATA-derived,
    * not atlas-bounded, so they pin edge and label state only below this
    * many rows and keep the distributed checkpoint rounds above it. */
  val CcPinMaxRows = 200 * 1000
  require(CcPinMaxRows < PinMaxRows,
    "CcPinMaxRows must sit below PinMaxRows: a pinned CC round must never " +
      "reach the pin ceiling's hard failure")

  /** Collect a BOUNDED loop-state relation to the driver and rebuild it
    * as a driver-local relation (LocalRelation), returning the rows too.
    *
    * Why, vs [[fresh]] (r20 optimization round, measured on the graph
    * kernels): an iterative kernel pays per ROUND a fixed driver cost
    * that dwarfs its bounded data — localCheckpoint is one job, the
    * convergence probe (`isEmpty`) a second, and every downstream
    * consumer of the checkpointed RDD schedules scan tasks; under AQE
    * each materialized exchange is its own job. ProbeJobs measured
    * 73-140 single-task jobs per graph query at sf0.1 with task time
    * less than half the wall — the queries were DRIVER-bound. Pinning
    * the round state instead:
    *   - costs the same one job (the collect — and a `broadcast()` of
    *     NP-row state was ALREADY collecting those rows to the driver
    *     to build the broadcast relation, so no new data crosses);
    *   - makes every downstream read plan-local: a LocalRelation
    *     broadcasts with ZERO jobs (LocalTableScan.executeCollect is
    *     driver-local), joins against it need no scan stage, and
    *     `.count()`-style cap derivations become `rows.length`;
    *   - makes the fixed-point probe FREE: callers check the collected
    *     array instead of scheduling an `isEmpty` job per round;
    *   - carries EXACT (tiny) stats, so the sizeInBytes blowup [[fresh]]
    *     exists to stop cannot occur in the first place.
    *
    * At 100 TB nothing changes: loop state stays atlas-bounded (never
    * data-sized — the data-sized prefix is checkpointed BEFORE these
    * loops), and one driver round-trip per round replaces a driver
    * round-trip (broadcast build) plus 2-3 scheduled jobs per round.
    * Contract: bounded relations ONLY — enforced by [[PinMaxRows]]. */
  /** Dedicated session for pin collects, one per root session. Created
    * once with the pin-scoped conf FIXED at creation (never mutated
    * afterwards), so concurrent queries on the ROOT session never observe
    * pin confs — the previous implementation temporarily rewrote the
    * shared session's conf around each collect, which raced under
    * Verify's 8-way-concurrent drivers (a query planned mid-pin picked up
    * single-partition/AQE-off confs; interleaved restores could leave
    * them set for the rest of the run). `newSession()` shares the
    * SparkContext (and so all RDDs the pinned plans reference) but owns a
    * private SQLConf; builder-time semantic confs (timezone,
    * nanosAsLong) are carried over via initialSessionOptions. */
  private val pinSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private def pinSession(root: SparkSession): SparkSession =
    pinSessions.computeIfAbsent(root, (s: SparkSession) => {
      val p = s.newSession()
      // A LocalRelation leaf executes as parallelize(rows, min(rows,
      // defaultParallelism)) — a 12-row loop-state scan would schedule 12
      // trivial tasks (measured: q208 tasks 95 → 267 on the first pin
      // attempt), so force single-partition leaves. Everything inside a
      // pin's execution is bounded by contract, so AQE buys nothing and
      // costs one scheduled job + a re-optimization per exchange, and
      // 32-wide shuffles of NP-row state are 31 empty tasks.
      p.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
      p.conf.set("spark.sql.adaptive.enabled", "false")
      p.conf.set("spark.sql.shuffle.partitions", "1")
      // The guard limit below must not turn the collect into CollectLimit's
      // incremental partition ramp-up (1, 4, 16... = one job per step) when
      // a pinned plan scans a multi-partition checkpointed RDD: scan all
      // partitions in the first (only) pass, exactly like plain collect.
      p.conf.set("spark.sql.limit.initialNumPartitions", "100000")
      // (probed and rejected: constraintPropagation=false and
      // codegen.wholeStage=false moved a round-shaped pin not at all —
      // ~93 ms either way, ~15 ms job dispatch; OPTIMIZATION_r21.md)
      p
    })

  def pinRows(df: DataFrame): (DataFrame, Array[org.apache.spark.sql.Row]) = {
    val rows = pinnedRows(df, "Loops.pin")
    val local = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    (local, rows)
  }

  /** The rows of [[pinRows]] alone, for callers that continue on the
    * driver; over `cap` rows it fails naming `site` (the cap is injectable
    * so specs can trip the failure without an 8M-row collect). */
  private[graft] def pinnedRows(df: DataFrame, site: String,
      cap: Int = PinMaxRows): Array[org.apache.spark.sql.Row] = {
    // limit(cap+1) bounds what the collect can materialize on the driver,
    // so the loud not-atlas-class failure below fires BEFORE a data-sized
    // relation can OOM the driver (r20 verdict item 2). For any relation
    // actually under the cap the rows and their order are identical to a
    // plain collect (partition-order prefix of everything).
    val rows = collectCapped(pinSession(df.sparkSession), df, cap)
    require(rows.length <= cap,
      s"$site got > $cap rows — not atlas-class loop state")
    rows
  }

  /** A data-sized plan with a BOUNDED result (an atlas aggregate of a
    * scan), brought to the driver once and rebuilt as a LocalRelation.
    * Unlike [[pin]], the collect runs on `df`'s own session: the scan and
    * exchange below the bound keep full parallelism and AQE, where the
    * pin session would run them in one task (the serial data-sized pin of
    * q155/q156). Every later reader, pins included, then reads
    * driver-local rows. Over `cap` rows it fails naming `site` — it never
    * demotes and never runs the plan twice. The capped collect takes
    * partitions incrementally, so it is one job when the result sits in
    * one partition, as AQE coalesces an atlas aggregate. */
  private[graft] def gather(df: DataFrame, site: String,
      cap: Int = PinMaxRows): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(gatheredRows(df, site, cap): _*), df.schema)

  /** The rows of [[gather]] alone, for driver kernels that continue on
    * them. */
  private[graft] def gatheredRows(df: DataFrame, site: String,
      cap: Int = PinMaxRows): Array[org.apache.spark.sql.Row] = {
    val rows = collectCapped(df.sparkSession, df, cap)
    require(rows.length <= cap,
      s"$site got > $cap rows — not an atlas-bounded result")
    rows
  }

  private def collectCapped(session: SparkSession, df: DataFrame,
      cap: Int): Array[org.apache.spark.sql.Row] =
    org.apache.spark.sql.graft.PlanBridge
      .onSession(session, df)
      .limit(cap + 1)
      .collect()

  /** [[pinRows]] when the caller only needs the relation. Unlike
    * [[pinRows]] (whose callers consume the rows for fixpoint probes and
    * so genuinely require boundedness), a relation that turns out to
    * exceed [[PinMaxRows]] here DEMOTES to the [[fresh]] distributed
    * checkpoint path instead of failing the query: same results, pre-pin
    * execution shape, one wasted capped collect. */
  def pin(df: DataFrame): DataFrame = pinWithCap(df, PinMaxRows)

  /** [[pin]] with an injectable ceiling — package-private so the spec can
    * exercise the over-cap demotion without an 8M-row collect. */
  private[graft] def pinWithCap(df: DataFrame, cap: Int): DataFrame = {
    val rows = collectCapped(pinSession(df.sparkSession), df, cap)
    if (rows.length > cap) fresh(df)
    else df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
