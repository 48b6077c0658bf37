package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types._

/** The connectome loop kernels — q208's label propagation, q215's H-index
  * coreness, the q196/q217 connected components, the q225/q230/q239
  * Louvain levels, the q204/q208 module-role moments, q203's ECM power
  * steps and one single-source shortest-path sweep (q184/q189/q199/q218/
  * q234 path metrics, q240/q247 Brandes betweenness) — run on the DRIVER
  * over one pinned edge relation. The keyed loops (q196's permutations,
  * q217's thresholds, q218's attack strategies, q236–q257's dFC windows)
  * run the same kernels once per key over one keyed pin ([[pinKeyed]]).
  *
  * Every relation these kernels touch is atlas-bounded (NP parcels, ≤ NP²
  * pairs: 66 at connNP = 12, ≤ 10⁶ at atlas scale; |keys|·NP² keyed),
  * yet as a DataFrame choreography each round still paid a planned and
  * dispatched pin collect for a few hundred integer operations. Here the
  * edge relation crosses to the driver ONCE, through the capped pin
  * collect (a relation over the cap fails loudly with the calling site's
  * name — never a driver OOM, never a second execution path), the rounds
  * run over adjacency arrays, and each result leaves as one LocalRelation.
  * Integer arithmetic only: double-valued outputs stay Catalyst
  * expressions evaluated over that relation, so their rounding is the
  * oracle-compared one.
  */
private[graft] object GraphLoops {

  /** A (p1, p2, …, edge) or (p1, p2, …, w) relation on the driver. Nodes
    * are the distinct ids over ALL pairs (non-edge pairs bring their
    * endpoints in as isolates), indexed in ascending id order — index order
    * is id order, which the label-ASC tie-breaks rely on. `adj(i)` holds one
    * entry per edge pair end and `wt(i)` its weight (1 for an edge = 1
    * pair, w for a w > 0 pair), so a duplicate pair counts (and votes)
    * twice, as the oracle's UNION ALL does. */
  final class Graph(val idField: StructField, val ids: Array[Any],
      val adj: Array[Array[Int]], val wt: Array[Array[Long]],
      val edgeRows: Int, spark: SparkSession) {
    def n: Int = ids.length

    /** A driver-local relation: `p` (the input's id type) then `cols`, one
      * row per node of `nodes` (id order), `cells(i)` filling node i's cols. */
    def relation(cols: Seq[StructField], nodes: Seq[Int] = ids.indices)(
        cells: Int => Seq[Any]): DataFrame =
      local(idField +: cols, nodes.map(i => ids(i) +: cells(i)))

    /** A driver-local relation of `rows` under `fields`. */
    def local(fields: Seq[StructField], rows: Seq[Seq[Any]]): DataFrame =
      GraphLoops.local(spark, fields, rows)
  }

  /** One [[Graph]] per distinct key tuple of a [[pinKeyed]] relation, in
    * first-seen row order; `idField` is the graphs' shared `p` field. A
    * kernel run over every key through [[labels]] or [[distances]] logs
    * ONE driver_loop line for the call: the key count, nodes and edge rows
    * summed, the most rounds any key ran, and whether every key converged. */
  final class Keyed(keyFields: Seq[StructField], idField: StructField,
      val graphs: Seq[(Row, Graph)], spark: SparkSession) {

    /** (keys…, p, `name`): each key's node labels (node indices) from
      * `kernel`, as ids. */
    def labels(name: String, site: String)(kernel: Graph => Array[Int]): DataFrame =
      relation(Seq(idField, idField.copy(name = name)), site)(kernel) { (g, lab) =>
        g.ids.indices.map(i => Seq(g.ids(i), g.ids(lab(i))))
      }

    /** (keys…, a, b, d): [[GraphLoops.distances]] per key. */
    def distances(site: String): DataFrame =
      relation(distanceFields(idField), site)(distanceRows(_, site))((_, rows) => rows)

    private def relation[A](fields: Seq[StructField], site: String)(
        kernel: Graph => A)(rows: (Graph, A) => Seq[Seq[Any]]): DataFrame = {
      val calls = collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
      val out = keyedCalls.withValue(Some(calls)) {
        graphs.flatMap { case (k, g) => rows(g, kernel(g)).map(k.toSeq ++ _) }
      }
      log.info(s"""{"event":"driver_loop","site":"$site","keys":${graphs.size},""" +
        s""""nodes":${graphs.map(_._2.n).sum},""" +
        s""""edge_rows":${graphs.map(_._2.edgeRows).sum},""" +
        s""""rounds":${calls.map(_._1).maxOption.getOrElse(0)},""" +
        s""""converged":${calls.forall(_._2)}}""")
      local(spark, keyFields ++ fields, out)
    }
  }

  /** A driver-local relation of `rows` under `fields`. */
  private[queries] def local(spark: SparkSession, fields: Seq[StructField],
      rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
      StructType(fields))

  private val integralIds: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)
  private def key(id: Any): Long = id.asInstanceOf[Number].longValue

  /** Pin `pairs`' rows — at most `cap` of them — and index them as a
    * [[Graph]]. A relation with an integral `w` column is weighted (w > 0
    * is an edge of weight w); otherwise `edge = 1` is an edge of weight 1.
    * Both tests are evaluated by Catalyst (NULL is not an edge), so they
    * are the DataFrame ones for any column type. */
  def pin(pairs: DataFrame, site: String,
      cap: Int = graft.util.Loops.PinMaxRows): Graph =
    index(pairs, edgeRows(pairs, Nil, site, cap), 0)

  /** [[pin]] per key: ONE capped collect of (`keys`…, p1, p2, weight) rows
    * — at most `cap` over all keys — indexed by the same indexer as one
    * [[Graph]] per distinct key tuple. A key with no edge row is a graph
    * of isolates; a key absent from `pairs` has no graph. */
  def pinKeyed(pairs: DataFrame, keys: Seq[String], site: String,
      cap: Int = graft.util.Loops.PinMaxRows): Keyed = {
    val groups = collection.mutable.LinkedHashMap.empty[Row,
      collection.mutable.ArrayBuffer[Row]]
    for (r <- edgeRows(pairs, keys, site, cap))
      groups.getOrElseUpdate(Row.fromSeq(r.toSeq.take(keys.size)),
        collection.mutable.ArrayBuffer.empty) += r
    new Keyed(keys.map(pairs.schema(_)), pairs.schema("p1").copy(name = "p"),
      groups.toSeq.map { case (k, rows) => k -> index(pairs, rows, keys.size) },
      pairs.sparkSession)
  }

  /** The capped collect behind [[pin]] and [[pinKeyed]]: (`keys`…, p1, p2,
    * weight) rows, weight 0 for a non-edge pair. */
  private def edgeRows(pairs: DataFrame, keys: Seq[String], site: String,
      cap: Int): Array[Row] = {
    val idType = pairs.schema("p1").dataType
    require(integralIds(idType) && pairs.schema("p2").dataType == idType,
      s"$site: p1/p2 must share one integral id type, got " +
        s"${pairs.schema("p1").dataType}/${pairs.schema("p2").dataType}")
    val weight =
      if (pairs.columns.contains("w")) {
        require(integralIds(pairs.schema("w").dataType),
          s"$site: w must be integral, got ${pairs.schema("w").dataType}")
        when(col("w") > 0, col("w").cast(LongType))
      } else when(col("edge") === 1, lit(1L))
    val rows = graft.util.Loops.pinnedRows(pairs.select(keys.map(col) ++
      Seq(col("p1"), col("p2"), coalesce(weight, lit(0L))): _*), site, cap)
    require(rows.forall(r => !r.isNullAt(keys.size) && !r.isNullAt(keys.size + 1)),
      s"$site: NULL parcel id in the edge relation")
    rows
  }

  /** Index `rows` — p1, p2 and weight at columns `at`, `at` + 1, `at` + 2 —
    * as a [[Graph]] over `pairs`' id type. */
  private def index(pairs: DataFrame, rows: collection.Seq[Row], at: Int): Graph = {
    val ids = rows.iterator.flatMap(r => Iterator(r.get(at), r.get(at + 1)))
      .distinctBy(key).toArray.sortBy(key)
    val index = ids.iterator.map(key).zipWithIndex.toMap
    val adj = Array.fill(ids.length)(Array.newBuilder[Int])
    val wt = Array.fill(ids.length)(Array.newBuilder[Long])
    rows.foreach { r =>
      val w = r.getLong(at + 2)
      if (w > 0) {
        val (a, b) = (index(key(r.get(at))), index(key(r.get(at + 1))))
        adj(a) += b; wt(a) += w
        adj(b) += a; wt(b) += w
      }
    }
    new Graph(pairs.schema("p1").copy(name = "p"), ids, adj.map(_.result()),
      wt.map(_.result()), rows.length, pairs.sparkSession)
  }

  /** Synchronous label propagation (the q208 section note): labels start
    * as the nodes themselves; each round every node takes the most
    * frequent label among its neighbor entries PLUS its own, ties broken
    * by (count DESC, label ASC). Capped at `maxRounds` (≤ 0 ⇒ the node
    * count). Returns (labels as node indices, rounds run, converged). */
  def lpa(g: Graph, maxRounds: Int, site: String): (Array[Int], Int, Boolean) =
    fixpoint(g, Array.tabulate(g.n)(identity),
      if (maxRounds > 0) maxRounds else math.max(1, g.n), site) { (lab, _) =>
      Array.tabulate(g.n) { i =>
        (lab(i) +: g.adj(i).map(lab)).groupMapReduce(identity)(_ => 1)(_ + _)
          .minBy { case (l, c) => (-c, l) }._1
      }
    }

  /** Connected components (the q196 section note): labels start as the
    * nodes themselves, and each round every node takes the least label
    * among its own and its neighbor entries' — at the fixed point the
    * least node index, so the least id, of its component. A component of
    * diameter d settles in d + 1 ≤ n rounds, the cap. Returns labels as
    * node indices. */
  def components(g: Graph, site: String): Array[Int] =
    fixpoint(g, Array.tabulate(g.n)(identity), math.max(1, g.n), site) {
      (lab, _) => Array.tabulate(g.n)(i =>
        g.adj(i).foldLeft(lab(i))((m, j) => math.min(m, lab(j))))
    }._1

  /** H-index coreness (the q215 section note): c⁰ = degree, then c(v) =
    * the largest h with at least h neighbor entries valued ≥ h — non-
    * increasing to the coreness. Capped at `rounds`. Returns (degree,
    * coreness). */
  def coreness(g: Graph, rounds: Int,
      site: String): (Array[Long], Array[Long]) = {
    val deg = g.adj.map(_.length.toLong)
    // values sorted descending: v(h) > h holds exactly on a prefix
    val (c, _, _) = fixpoint(g, deg, rounds, site) { (c, _) =>
      g.adj.map(_.map(c).sorted(Ordering[Long].reverse).zipWithIndex
        .count { case (v, h) => v > h }.toLong)
    }
    (deg, c)
  }

  /** Level 1 of the deterministic Louvain (the q225 section note) over the
    * weighted graph: `rounds` synchronous sweeps in which only nodes with
    * id % 2 = r % 2 move, each to the candidate community (its neighbors'
    * plus its own) of largest exact-integer gain
    * 2W·w_ic − s_i·(Σtot(c) − [c = cur]·s_i), ties to the lower id. The
    * gate makes round r's map depend on r % 2, so an unchanged round is
    * NOT a fixed point: all `rounds` run. Returns labels as node indices. */
  def louvain(g: Graph, rounds: Int, site: String): Array[Int] = {
    val s = g.wt.map(_.sum) // strengths: degrees at unit weight
    val w2 = BigInt(s.sum)
    val parity = g.ids.map(key(_) % 2)
    fixpoint(g, Array.tabulate(g.n)(identity), rounds, site,
      untilStable = false) { (cur, r) =>
      val tot = communityTotals(g, cur, s)
      Array.tabulate(g.n) { i =>
        if (parity(i) != r % 2) cur(i)
        else {
          val wic = weightsInto(g, i, cur)
          def gain(c: Int): BigInt = w2 * BigInt(wic.getOrElse(c, 0L)) -
            BigInt(s(i)) * (tot(c) - (if (c == cur(i)) s(i) else 0L))
          (wic.keySet + cur(i)).minBy(c => (-gain(c), c))
        }
      }
    }._1
  }

  /** Level 2 of the deterministic Louvain (the q239 section note) from the
    * `level1` labels: each round every community names the partner of
    * largest exact-integer gain 2W·w₁₂ − s₁·s₂ > 0 (ties to the lower id),
    * and only mutual pairs merge, under the lower label — until a round
    * merges nothing, or `rounds` rounds. Returns labels as node indices. */
  def louvainLevel2(g: Graph, level1: Array[Int], rounds: Int,
      site: String): Array[Int] = {
    val s = g.wt.map(_.sum) // strengths: degrees at unit weight
    val w2 = BigInt(s.sum)
    fixpoint(g, level1, rounds, site) { (lab, _) =>
      val tot = communityTotals(g, lab, s)
      val cross = (0 until g.n).flatMap(i => weightsInto(g, i, lab).collect {
        case (c, w) if c != lab(i) => (lab(i), c) -> w
      }).groupMapReduce(_._1)(_._2)(_ + _)
      val best = cross.iterator
        .map { case ((a, b), w) => (a, b, w2 * w - BigInt(tot(a)) * tot(b)) }
        .filter(_._3 > 0).toSeq.groupBy(_._1).view
        .mapValues(_.minBy { case (_, b, gain) => (-gain, b) }._2).toMap
      lab.map(a => best.get(a).filter(b => best.get(b).contains(a))
        .fold(a)(math.min(a, _)))
    }._1
  }

  /** ECM's unnormalized power steps (the q203 section note): x⁰ = 1, then
    * x ← x + A·x `steps` times, A counting one term per adjacency entry. */
  def ecm(g: Graph, steps: Int, site: String): Array[Long] =
    fixpoint(g, Array.fill(g.n)(1L), steps, site, untilStable = false) {
      (x, _) => Array.tabulate(g.n)(i => g.adj(i).foldLeft(x(i))(
        (acc, j) => Math.addExact(acc, x(j))))
    }._1

  /** One source's shortest paths, the entry weights read as lengths (all
    * ≥ 1): `dist` (Long.MaxValue = unreached), `sigma` the shortest-path
    * counts and `order` the reached nodes in settle order (non-decreasing
    * dist). */
  final class Paths(val dist: Array[Long], val sigma: Array[Long],
      val order: Array[Int])

  /** Dijkstra from node `s` — BFS order when every length is 1. Distances
    * are exact (`Math.addExact`); σ(v) sums σ over v's tight entries, so a
    * duplicate pair counts twice, as the oracle's UNION ALL does. Every
    * tight entry comes from a node of smaller dist (lengths ≥ 1), settled
    * earlier, so σ(v) is final when v settles. */
  def shortestPaths(g: Graph, s: Int): Paths = {
    val dist = Array.fill(g.n)(Long.MaxValue)
    val sigma = new Array[Long](g.n)
    val order = Array.newBuilder[Int]
    val heap = collection.mutable.PriorityQueue((0L, s))(
      Ordering[(Long, Int)].reverse)
    dist(s) = 0L
    while (heap.nonEmpty) {
      val (d, v) = heap.dequeue()
      if (d == dist(v)) { // not improved on since it was queued
        order += v
        sigma(v) = if (v == s) 1L else g.adj(v).indices
          .filter(tight(g, dist, v, _))
          .foldLeft(0L)((acc, e) => Math.addExact(acc, sigma(g.adj(v)(e))))
        for (e <- g.adj(v).indices) {
          val (u, du) = (g.adj(v)(e), Math.addExact(d, g.wt(v)(e)))
          if (du < dist(u)) { dist(u) = du; heap.enqueue((du, u)) }
        }
      }
    }
    new Paths(dist, sigma, order.result())
  }

  /** Entry e of node w ends a shortest path to w. */
  private def tight(g: Graph, dist: Array[Long], w: Int, e: Int): Boolean =
    dist(w) - g.wt(w)(e) == dist(g.adj(w)(e))

  /** Brandes' dependencies of one source's [[Paths]] in 10⁻¹² fixed point
    * (the q240 section note): from the last-settled node back, over each
    * tight entry (v → w), δ(v) += (σ_v·(10¹² + δ(w))) div σ_w — the product
    * in BigInt, the floor exact on non-negative operands. */
  def dependencies(g: Graph, p: Paths): Array[Long] = {
    val delta = new Array[Long](g.n)
    for (w <- p.order.reverseIterator; e <- g.adj(w).indices
         if tight(g, p.dist, w, e)) {
      val v = g.adj(w)(e)
      val term = BigInt(p.sigma(v)) * (BigInt(delta(w)) + FixedOne) / p.sigma(w)
      delta(v) = Math.addExact(delta(v), term.bigInteger.longValueExact)
    }
    delta
  }

  /** Σ over the first `sources` node indices s of δ_s(v), v ≠ s: the
    * (sampled-source) betweenness in 10⁻¹² fixed point. */
  def betweenness(g: Graph, sources: Int, site: String): Array[Long] = {
    val k = math.max(0, math.min(sources, g.n))
    val bc = new Array[Long](g.n)
    for (s <- 0 until k) {
      val delta = dependencies(g, shortestPaths(g, s))
      for (v <- 0 until g.n if v != s) bc(v) = Math.addExact(bc(v), delta(v))
    }
    trace(g, site, k, converged = true)
    bc
  }

  /** All-pairs shortest distances: one (a, b, d) row per ordered pair
    * a ≠ b with b reachable from a. */
  def distances(g: Graph, site: String): DataFrame =
    g.local(distanceFields(g.idField), distanceRows(g, site))

  private def distanceFields(idField: StructField): Seq[StructField] =
    Seq(idField.copy(name = "a"), idField.copy(name = "b"),
      StructField("d", LongType, nullable = false))

  private def distanceRows(g: Graph, site: String): Seq[Seq[Any]] = {
    val rows = for {
      s <- 0 until g.n
      p = shortestPaths(g, s)
      v <- p.order if v != s
    } yield Seq(g.ids(s), g.ids(v), p.dist(v))
    trace(g, site, g.n, converged = true)
    rows
  }

  private val FixedOne = BigInt(1000000000000L)

  /** Node i's entry weights summed per community of `lab`. */
  private def weightsInto(g: Graph, i: Int, lab: Array[Int]): Map[Int, Long] =
    g.adj(i).zip(g.wt(i)).groupMapReduce(e => lab(e._1))(_._2)(_ + _)

  /** Σ strength per community of `lab` (indexed by label). */
  private def communityTotals(g: Graph, lab: Array[Int],
      s: Array[Long]): Array[Long] = {
    val tot = new Array[Long](g.n)
    for (i <- 0 until g.n) tot(lab(i)) += s(i)
    tot
  }

  /** Apply the deterministic round map `step` (state, 0-based round) from
    * `init` for `cap` rounds — with `untilStable`, stopping early at a
    * round that changes nothing, as every later round would reproduce it;
    * returns (state, rounds run, converged = the last round changed
    * nothing). */
  private def fixpoint[T](g: Graph, init: Array[T], cap: Int, site: String,
      untilStable: Boolean = true)(
      step: (Array[T], Int) => Array[T]): (Array[T], Int, Boolean) = {
    var state = init
    var round = 0
    var converged = false
    while (round < cap && !(untilStable && converged)) {
      val next = step(state, round)
      round += 1
      converged = next.sameElements(state)
      state = next
    }
    trace(g, site, round, converged)
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
    * rounds, converged): where the loop ran and how long it took to settle.
    * A shortest-path sweep reports its sources as rounds, converged. Inside
    * a [[Keyed]] call the line folds into that call's one line. */
  private def trace(g: Graph, site: String, rounds: Int,
      converged: Boolean): Unit = keyedCalls.value match {
    case Some(calls) => calls += ((rounds, converged))
    case None =>
      log.info(s"""{"event":"driver_loop","site":"$site","nodes":${g.n},""" +
        s""""edge_rows":${g.edgeRows},"rounds":$rounds,"converged":$converged}""")
  }

  /** The (rounds, converged) of each kernel run inside a [[Keyed]] call,
    * on the calling thread. */
  private val keyedCalls = new scala.util.DynamicVariable[
    Option[collection.mutable.ArrayBuffer[(Int, Boolean)]]](None)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.loops")
}
