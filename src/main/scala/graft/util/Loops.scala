package graft.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, InterpretedOrdering,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

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

  /** A bounded group-by of a data-sized plan, folded per partition and
    * merged on the driver: `keys` ++ `sums` columns, one row per distinct
    * key tuple (NULL is a key like any other) in ascending key order, each
    * sum column the exact `sum(c)` of its group under Spark's sum result
    * type — BIGINT for an integral column, DECIMAL(min(p + 10, 38), s) for
    * a DECIMAL(p, s) one. A sum with no non-NULL term is NULL. With no
    * `sums` it is the `distinct()` of the keys. The result is a driver-local
    * relation (LocalRelation), so every later reader, pins included, reads
    * it with no job.
    *
    * Each partition reads its rows as InternalRows (`queryExecution.toRdd`,
    * no Row deserializer) into a hash map from key to exact sums: BIGINT
    * through `Math.addExact`, DECIMAL as exact BigDecimal checked against
    * the result precision. The partials merge by `treeAggregate`: at P
    * partitions the driver holds about √P of them (one job, no shuffle at
    * a few partitions; one executor-side reduce level at large P), and no
    * data-sized row ever reaches the driver. Over `cap` keys — inside one
    * partition or only after a merge — the fold fails naming `site`; an
    * overflow throws an ArithmeticException naming `site`, as the ANSI sum
    * does. It never demotes and never runs the plan twice. Each call logs
    * one `graft.loops` `fold` line (site, partitions, partial rows shipped,
    * merged rows). */
  private[graft] def fold(df: DataFrame, keys: Seq[String], sums: Seq[String],
      site: String, cap: Int = PinMaxRows): DataFrame = {
    val (schema, rows) = folded(df, keys, sums, site, cap)
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The rows of [[fold]] alone, for driver kernels that continue on them. */
  private[graft] def foldedRows(df: DataFrame, keys: Seq[String], sums: Seq[String],
      site: String, cap: Int = PinMaxRows): Array[Row] =
    folded(df, keys, sums, site, cap)._2

  private def folded(df: DataFrame, keys: Seq[String], sums: Seq[String],
      site: String, cap: Int): (StructType, Array[Row]) = {
    require(keys.nonEmpty, s"$site: a fold needs at least one key")
    val sel = df.select((keys ++ sums).map(col): _*)
    val k = keys.size
    val keyTypes = sel.schema.fields.take(k).map(_.dataType)
    val inTypes = sel.schema.fields.drop(k).map(_.dataType)
    val outTypes: Array[DataType] = inTypes.map {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case d: DecimalType => DecimalType(math.min(d.precision + 10, 38), d.scale)
      case t => throw new IllegalArgumentException(
        s"$site: fold sums integral or DECIMAL columns, got $t")
    }
    // one SQL execution, as an action's: its plan and metrics are listed
    val (parts, merged) = SQLExecution.withNewExecutionId(sel.queryExecution,
        Some(s"fold $site")) {
      val partials = sel.queryExecution.toRdd.mapPartitions(it =>
        Iterator(FoldState.of(it, keyTypes, inTypes, outTypes, site, cap)))
      (partials.getNumPartitions, partials.treeAggregate(FoldState.empty)(
        (a, b) => a.merge(b, outTypes, site, cap),
        (a, b) => a.merge(b, outTypes, site, cap)))
    }
    if (merged.failure != null) throw merged.failure
    val toKey = CatalystTypeConverters.createToScalaConverter(
      StructType(sel.schema.fields.take(k)))
    val ordered = merged.sums.asScala.toArray
      .sortBy(_._1: InternalRow)(InterpretedOrdering.forSchema(keyTypes.toSeq))
    val rows = ordered.map { case (key, s) =>
      Row.fromSeq(toKey(key).asInstanceOf[Row].toSeq ++ s.toSeq)
    }
    foldLog.info(s"""{"event":"fold","site":"$site","partitions":""" +
      s"""$parts,"partial_rows":${merged.shipped},""" +
      s""""rows":${rows.length}}""")
    (StructType(sel.schema.fields.take(k) ++ sums.zip(outTypes).map {
      case (c, t) => StructField(c, t) }), rows)
  }

  /** The rows of a column selection of a driver-local relation (a
    * LocalRelation, as [[fold]] and [[pin]] return), read with no job;
    * None for any other plan. */
  private[graft] def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.analyzed match {
      case Project(list, l: LocalRelation) if list.forall(_.isInstanceOf[Attribute]) =>
        val at = list.map(a => l.output.indexWhere(_.exprId == a.exprId))
        val toRow = CatalystTypeConverters.createToScalaConverter(l.schema)
        Some(l.data.iterator.map { r =>
          val full = toRow(r).asInstanceOf[Row]
          Row.fromSeq(at.map(full.get))
        }.toArray)
      case _ => None
    }

  private val foldLog = org.slf4j.LoggerFactory.getLogger("graft.loops")

  /** One partition's (or one merge's) [[fold]] state: key → exact sums (a
    * java.lang.Long or java.math.BigDecimal per sum column, null before
    * the first non-NULL term), the partial rows shipped into it, and the
    * failure that ends the fold — carried as a value, so the driver throws
    * it as itself rather than as a task failure. */
  private final class FoldState(val sums: java.util.HashMap[UnsafeRow, Array[Any]],
      var shipped: Long, var failure: Throwable) extends Serializable {

    def merge(o: FoldState, outTypes: Array[DataType], site: String,
        cap: Int): FoldState =
      if (failure != null) this
      else if (o.failure != null) o
      else FoldState.guarded(this) {
        shipped += o.shipped
        o.sums.forEach { (key, s) =>
          val mine = sums.get(key)
          if (mine == null) sums.put(key, s)
          else for (j <- s.indices if s(j) != null)
            mine(j) = FoldState.add(mine(j), s(j), outTypes(j), site)
        }
        FoldState.checkCap(sums.size, site, cap)
      }
  }

  private object FoldState {
    def empty: FoldState = new FoldState(new java.util.HashMap, 0L, null)

    def of(it: Iterator[InternalRow], keyTypes: Array[DataType],
        inTypes: Array[DataType], outTypes: Array[DataType], site: String,
        cap: Int): FoldState = {
      val st = empty
      guarded(st) {
        val k = keyTypes.length
        val key = UnsafeProjection.create(keyTypes)
        val read: Array[InternalRow => Any] = inTypes.zipWithIndex.map {
          case (ByteType, j) => (r: InternalRow) => r.getByte(k + j).toLong
          case (ShortType, j) => (r: InternalRow) => r.getShort(k + j).toLong
          case (IntegerType, j) => (r: InternalRow) => r.getInt(k + j).toLong
          case (LongType, j) => (r: InternalRow) => r.getLong(k + j)
          case (d: DecimalType, j) =>
            (r: InternalRow) => r.getDecimal(k + j, d.precision, d.scale).toJavaBigDecimal
        }
        while (it.hasNext) {
          val r = it.next()
          val kr = key(r)
          var s = st.sums.get(kr)
          if (s == null) {
            s = new Array[Any](inTypes.length)
            st.sums.put(kr.copy(), s)
            checkCap(st.sums.size, site, cap)
          }
          var j = 0
          while (j < s.length) {
            if (!r.isNullAt(k + j)) s(j) = add(s(j), read(j)(r), outTypes(j), site)
            j += 1
          }
        }
        st.shipped = st.sums.size
      }
    }

    /** Run `body` on `st`, turning a cap or overflow failure into its
      * state. */
    def guarded(st: FoldState)(body: => Unit): FoldState = {
      try body catch {
        case e @ (_: ArithmeticException | _: IllegalArgumentException) =>
          st.failure = e
      }
      st
    }

    def checkCap(n: Int, site: String, cap: Int): Unit =
      require(n <= cap, s"$site got > $cap rows — not an atlas-bounded result")

    /** a + b at the sum's result type; a null `a` is no term yet. */
    def add(a: Any, b: Any, t: DataType, site: String): Any = t match {
      case LongType =>
        val (x, y) = (b.asInstanceOf[java.lang.Long].longValue,
          if (a == null) 0L else a.asInstanceOf[java.lang.Long].longValue)
        try java.lang.Long.valueOf(Math.addExact(x, y)) catch {
          case _: ArithmeticException =>
            throw new ArithmeticException(s"$site: BIGINT overflow in a fold sum")
        }
      case d: DecimalType =>
        val v = b.asInstanceOf[java.math.BigDecimal]
        checkDecimal(if (a == null) v else a.asInstanceOf[java.math.BigDecimal].add(v),
          d, site)
    }

  }

  /** `v` at DECIMAL(d.precision, d.scale), or an ArithmeticException
    * naming `site` when it needs more digits — [[fold]]'s sum check. */
  private[graft] def checkDecimal(v: java.math.BigDecimal, d: DecimalType,
      site: String): java.math.BigDecimal = {
    val r = v.setScale(d.scale)
    if (r.precision - r.scale > d.precision - d.scale) throw new ArithmeticException(
      s"$site: fold sum $r overflows DECIMAL(${d.precision},${d.scale})")
    r
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
