package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._

/** The connectome loop kernels — q208's label propagation, q215's H-index
  * coreness and the q204/q208 module-role moments — run on the DRIVER over
  * one pinned edge relation.
  *
  * Every relation these kernels touch is atlas-bounded (NP parcels, ≤ NP²
  * pairs: 66 at connNP = 12, ≤ 10⁶ at atlas scale), yet as a DataFrame
  * choreography each round still paid a planned and dispatched pin collect
  * for a few hundred integer operations. Here the edge relation
  * crosses to the driver ONCE, through the capped pin collect (a relation
  * over the cap fails loudly with the calling site's name — never a driver
  * OOM, never a second execution path), the rounds run over adjacency
  * arrays, and each result leaves as one LocalRelation. Integer arithmetic
  * only: double-valued outputs stay Catalyst expressions evaluated over
  * that relation, so their rounding is the oracle-compared one.
  */
private[graft] object GraphLoops {

  /** A (p1, p2, …, edge) relation on the driver. Nodes are the distinct
    * ids over ALL pairs (edge = 0 pairs bring their endpoints in as
    * isolates), indexed in ascending id order — index order is id order,
    * which the LPA label-ASC tie-break relies on. `adj(i)` holds one entry
    * per edge = 1 pair end, so a duplicate pair counts (and votes) twice,
    * as the oracle's UNION ALL does. */
  final class Graph(val idField: StructField, val ids: Array[Any],
      val adj: Array[Array[Int]], val edgeRows: Int,
      spark: org.apache.spark.sql.SparkSession) {
    def n: Int = ids.length

    /** A driver-local relation: `p` (the input's id type) then `cols`, one
      * row per node of `nodes` (id order), `cells(i)` filling node i's cols. */
    def relation(cols: Seq[StructField], nodes: Seq[Int] = ids.indices)(
        cells: Int => Seq[Any]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(nodes.map(i => Row(ids(i) +: cells(i): _*)): _*),
        StructType(idField +: cols))
  }

  private val integralIds: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)
  private def key(id: Any): Long = id.asInstanceOf[Number].longValue

  /** Pin `pairs`' (p1, p2, edge) rows — at most `cap` of them — and index
    * them as a [[Graph]]. `edge = 1` is evaluated by Catalyst (NULL is not
    * an edge), so the edge test is the DataFrame one for any edge type. */
  def pin(pairs: DataFrame, site: String,
      cap: Int = graft.util.Loops.PinMaxRows): Graph = {
    val idType = pairs.schema("p1").dataType
    require(integralIds(idType) && pairs.schema("p2").dataType == idType,
      s"$site: p1/p2 must share one integral id type, got " +
        s"${pairs.schema("p1").dataType}/${pairs.schema("p2").dataType}")
    val rows = graft.util.Loops.pinnedRows(pairs.select(col("p1"), col("p2"),
      coalesce(col("edge") === 1, lit(false))), site, cap)
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      s"$site: NULL parcel id in the edge relation")
    val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .distinctBy(key).toArray.sortBy(key)
    val index = ids.iterator.map(key).zipWithIndex.toMap
    val adj = Array.fill(ids.length)(Array.newBuilder[Int])
    rows.foreach { r =>
      if (r.getBoolean(2)) {
        val (a, b) = (index(key(r.get(0))), index(key(r.get(1))))
        adj(a) += b
        adj(b) += a
      }
    }
    new Graph(pairs.schema("p1").copy(name = "p"), ids, adj.map(_.result()),
      rows.length, pairs.sparkSession)
  }

  /** Synchronous label propagation (the q208 section note): labels start
    * as the nodes themselves; each round every node takes the most
    * frequent label among its neighbor entries PLUS its own, ties broken
    * by (count DESC, label ASC). Capped at `maxRounds` (≤ 0 ⇒ the node
    * count). Returns (labels as node indices, rounds run, converged). */
  def lpa(g: Graph, maxRounds: Int, site: String): (Array[Int], Int, Boolean) =
    fixpoint(g, Array.tabulate(g.n)(identity),
      if (maxRounds > 0) maxRounds else math.max(1, g.n), site) { lab =>
      Array.tabulate(g.n) { i =>
        (lab(i) +: g.adj(i).map(lab)).groupMapReduce(identity)(_ => 1)(_ + _)
          .minBy { case (l, c) => (-c, l) }._1
      }
    }

  /** H-index coreness (the q215 section note): c⁰ = degree, then c(v) =
    * the largest h with at least h neighbor entries valued ≥ h — non-
    * increasing to the coreness. Capped at `rounds`. Returns (degree,
    * coreness). */
  def coreness(g: Graph, rounds: Int,
      site: String): (Array[Long], Array[Long]) = {
    val deg = g.adj.map(_.length.toLong)
    // values sorted descending: v(h) > h holds exactly on a prefix
    val (c, _, _) = fixpoint(g, deg, rounds, site) { c =>
      g.adj.map(_.map(c).sorted(Ordering[Long].reverse).zipWithIndex
        .count { case (v, h) => v > h }.toLong)
    }
    (deg, c)
  }

  /** Apply the deterministic round map `step` from `init` until a round
    * changes nothing — every later round would reproduce it — or `cap`
    * rounds have run; returns (state, rounds run, converged). */
  private def fixpoint[T](g: Graph, init: Array[T], cap: Int, site: String)(
      step: Array[T] => Array[T]): (Array[T], Int, Boolean) = {
    var state = init
    var round = 0
    var converged = false
    while (round < cap && !converged) {
      round += 1
      val next = step(state)
      converged = next.sameElements(state)
      state = next
    }
    log.info(s"""{"event":"driver_loop","site":"$site","nodes":${g.n},""" +
      s""""edge_rows":${g.edgeRows},"rounds":$round,"converged":$converged}""")
    (state, round, converged)
  }

  /** The integer Guimerà–Amaral moments (the q204 section note) under a
    * (p, m) module assignment, pinned from `modules`: per node WITH a module
    * its module `m` (the modules' type), k and skk (Σ and Σ² over modules
    * of κ_pm, the neighbor entries whose module is m), k_in = κ_p,m(p), and
    * its module's n, s1 = Σ k_in, s2 = Σ k_in². A node without a module is
    * dropped and casts no within-module vote. */
  def roleMoments(g: Graph, modules: DataFrame, site: String): DataFrame = {
    val byId = graft.util.Loops.pinnedRows(modules.select("p", "m"), site)
      .iterator.map(r => key(r.get(0)) -> r.get(1)).toMap
    val mod: Array[Option[Any]] = g.ids.map(p => byId.get(key(p)))
    val kappa = g.adj.map(_.iterator.flatMap(mod(_)).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap)
    val own = g.ids.indices.filter(mod(_).isDefined)
    val kin = own.iterator.map(i => i -> kappa(i).getOrElse(mod(i).get, 0L)).toMap
    val mom = own.groupBy(mod(_).get).view.mapValues { is =>
      val ks = is.map(kin)
      (is.size.toLong, ks.sum, ks.map(k => k * k).sum)
    }.toMap
    val longs = Seq("k", "skk", "k_in", "n", "s1", "s2")
      .map(StructField(_, LongType, nullable = false))
    g.relation(StructField("m", modules.schema("m").dataType) +: longs, own) { i =>
      val (n, s1, s2) = mom(mod(i).get)
      Seq(mod(i).get, kappa(i).values.sum, kappa(i).values.map(k => k * k).sum,
        kin(i), n, s1, s2)
    }
  }

  /** One structured INFO line per driver loop (site, nodes, edge_rows,
    * rounds, converged): where the loop ran and how long it took to settle. */
  private val log = org.slf4j.LoggerFactory.getLogger("graft.loops")
}
