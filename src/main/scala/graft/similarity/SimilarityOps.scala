package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import graft.functions.VectorExprs

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`Array[Float]`).
  *
  * Numerics: embeddings are cast element-wise to double (exact widening),
  * dot products are a left fold in array order (`aggregate`) — the same
  * sequential order the DuckDB oracle uses, so cosines are bit-identical
  * and the 6-decimal rounding in query outputs is purely defensive.
  *
  * Scale notes (100 TB): brute force broadcasts the (small) query set and
  * streams the corpus once — no corpus shuffle; top-k per query is a
  * partial-aggregate-friendly window over |queries|·k rows. The LSH variant
  * prunes candidates by bucket equality: at scale, bucket the corpus once
  * (write bucketed/partitioned by `bucket`) and each query probes one
  * partition — the join below is exactly that partition-pruned probe.
  */
object SimilarityOps {

  /** Left-fold dot product of two array<double> columns, in array order. */
  def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  /** vec_id, v (array<double>), norm — the prepared corpus relation. */
  def prepared(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(VectorExprs.dot_fold(col("v"), col("v"))))

  /** Brute-force cosine top-k: for each query vector (a subset of the
    * corpus), the k nearest other vectors by cosine similarity,
    * deterministic tie-break (cosine desc, neighbor id asc).
    */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val corpus = prepared(emb)
    val queries = corpus
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", VectorExprs.dot_fold(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Contrastive pair mining over the labeled embedding corpus: for each
    * anchor (query) vector, the k most cosine-similar SAME-label
    * neighbors (kind = 'pos' — the in-batch positives a contrastive loss
    * wants) and the k most similar DIFFERENT-label neighbors
    * (kind = 'neg' — hard negatives: the confusable examples that carry
    * the gradient signal). Same plan shape as [[cosineTopK]] — broadcast
    * anchor set, one corpus pass, per-(anchor, kind) rank window with
    * WindowGroupLimit bounding each map partition to k rows pre-exchange
    * — so mining scales exactly like brute-force top-k. */
  def contrastivePairs(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val corpus = emb
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(VectorExprs.dot_fold(col("v"), col("v"))))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("kind", when(col("label") === col("qlabel"), lit("pos")).otherwise(lit("neg")))
      .withColumn("cosine", VectorExprs.dot_fold(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    val w = Window.partitionBy("query_id", "kind")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("kind"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("label"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Sign-LSH bucket id: bits 0..nBits-1 are the signs of the first nBits
    * coordinates (axis-aligned random-projection LSH; a production variant
    * swaps in seeded hyperplanes — same plan shape, the projection becomes
    * a dot with a broadcast constant matrix). */
  def signBucketExpr(v: String, nBits: Int): String =
    s"aggregate(sequence(0, ${nBits - 1}), 0L, (acc, k) -> acc + " +
      s"(CASE WHEN element_at($v, k + 1) > 0D THEN shiftleft(1L, k) ELSE 0L END))"

  /** LSH-bucketed ANN: candidates limited to the query's sign bucket, then
    * exact cosine top-k within the bucket. Recall < 1 by construction (the
    * scale path); fully deterministic. */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int, nBits: Int): DataFrame = {
    val corpus = prepared(emb).withColumn("bucket", VectorExprs.sign_bucket(col("v"), nBits))
    val queries = corpus
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("bucket"))
    val scored = corpus
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", VectorExprs.dot_fold(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** The left-fold dot the whole module standardizes on, replayed on the
    * driver: same products, same left-to-right additions as `dot_fold` and
    * the DuckDB `list_reduce` — so a driver-computed centroid norm is
    * bit-identical to the in-plan / oracle one. */
  private def foldDot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** MAP-SIDE argmax-cosine assignment to driver-literal centroids
    * (cell, coords): adds a `cell` column with ZERO exchange — `greatest`
    * over per-centroid (cosine, -cell) structs picks max cosine with ties
    * to the lowest cell, replacing the corpus×k `row_number` window,
    * which would shuffle k× the data just to rank k values per row. */
  private def argmaxCell(corpus: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val scored = cents.map { case (cell, cv) =>
      val cnorm = math.sqrt(foldDot(cv, cv))
      struct(
        (VectorExprs.dot_fold(col("v"), typedlit(cv)) / (col("norm") * lit(cnorm))).as("cs"),
        lit(-cell).as("negc"))
    }
    // greatest() demands >= 2 arguments; a single centroid's argmax is itself
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    corpus.withColumn("cell", -best.getField("negc"))
  }

  /** Per-row ARRAY of the `p` nearest centroid cells by cosine, ties to
    * the lowest cell id — the nProbe>1 generalization of [[argmaxCell]],
    * still a pure projection against the k×d centroid literals (array
    * sort of k structs per row; no shuffle, no window). Sort order:
    * ascending struct sort on (cs, negc) reversed = cs desc, then negc
    * desc = cell ASC — exactly ROW_NUMBER(ORDER BY cs DESC, cell ASC). */
  private def probeCellsCol(cents: Seq[(Long, Seq[Double])], p: Int): Column = {
    val scored = cents.map { case (cell, cv) =>
      val cnorm = math.sqrt(foldDot(cv, cv))
      struct(
        (VectorExprs.dot_fold(col("v"), typedlit(cv)) / (col("norm") * lit(cnorm))).as("cs"),
        lit(-cell).as("negc"))
    }
    transform(slice(reverse(array_sort(array(scored: _*))), 1, p),
      s => -s.getField("negc"))
  }

  /** IVF (inverted-file) ANN: assign every vector to its nearest of
    * `nCentroids` coarse centroids (deterministic pick: the lowest-id
    * vectors act as centroids; [[kmeansCentroids]] is the trained
    * alternative — swap its (cell → coord list) output in as the
    * centroid literals, the plan is identical), then probe the query's
    * `nProbe` nearest cells. Assignment is a pure projection against the
    * k×d centroid literals ([[argmaxCell]] — no shuffle, no window), the
    * probe side explodes to nProbe (cell, query) rows — still
    * benchmark-sized — and ONE cell-equi-join scores candidates; the
    * corpus is scanned once and, when the assignment is persisted
    * partitioned by cell, a probe touches nProbe partitions.
    *
    * nProbe is the recall knob: a true neighbor sitting just across a
    * Voronoi boundary (assigned to the query's 2nd-closest centroid) is
    * invisible at nProbe=1 and found at nProbe=2 — SimilaritySpec pins
    * exactly that geometry. Each corpus vector lives in ONE cell, so
    * probing p distinct cells never duplicates a candidate.
    */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int, nCentroids: Int,
      nProbe: Int = 1): DataFrame = {
    val cents = prepared(emb)
      .orderBy("vec_id").limit(nCentroids)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    ivfTopKWith(emb, queryPred, k, cents, nProbe)
  }

  /** IVF ANN end-to-end from TRAINED centroids: runs [[kmeansCentroids]]'
    * Lloyd iterations, then serves the probe against the trained (cell →
    * mean) literals — the full "train the quantizer, then search" loop
    * the lowest-id pick in [[ivfTopK]] stands in for. Everything stays
    * engine-reproducible: training sums are exact int64 fixed-point, so
    * the centroid doubles — and therefore every cosine, assignment, and
    * probe — replay bit-identically from the oracle's SQL rendition of
    * the same iterations. */
  def ivfTopKTrained(emb: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int, iters: Int, nProbe: Int = 1,
      scaleBits: Int = 20): DataFrame =
    ivfTopKWith(emb, queryPred, k,
      kmeansCents(emb, nCentroids, iters, scaleBits), nProbe)

  /** The shared IVF probe pipeline against explicit centroid literals. */
  def ivfTopKWith(emb: DataFrame, queryPred: Column, k: Int,
      cents: Seq[(Long, Seq[Double])], nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val corpus = prepared(emb)
    val assigned = argmaxCell(corpus, cents)
      .select(col("vec_id"), col("v"), col("norm"), col("cell"))
    val queries = corpus
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"),
        explode(probeCellsCol(cents, nProbe)).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    assigned
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", VectorExprs.dot_fold(col("qv"), col("v")) / (col("qnorm") * col("norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** CORESET / representative sampling over the TRAINED quantizer: run
    * [[kmeansCentroids]]' Lloyd iterations, assign every vector to its
    * nearest trained centroid, and keep the `m` vectors CLOSEST to each
    * centroid (cosine desc, ties to the lowest vec_id) — the per-cluster
    * medoid set a diversity-aware training-data selector keeps when it
    * wants coverage of every region of embedding space rather than a
    * frequency-weighted sample.
    *
    * Scale shape: assignment is the same k×d-literal projection as
    * [[ivfTopKWith]] (cosine rides along — no second pass), and the
    * per-cell top-m is the exact rank-window shape the TopKPerKey
    * physical rewrite turns into bounded heaps; the exchange carries one
    * row per vector, state is m rows per cell. Deterministic end to end:
    * training sums are exact int64 fixed-point, so assignments, cosines,
    * and ranks replay bit-identically from the oracle's SQL rendition. */
  def kmeansRepresentatives(emb: DataFrame, nCentroids: Int, iters: Int,
      m: Int, scaleBits: Int = 20): DataFrame = {
    val cents = kmeansCents(emb, nCentroids, iters, scaleBits)
    val scored = cents.map { case (cell, cv) =>
      val cnorm = math.sqrt(foldDot(cv, cv))
      struct(
        (VectorExprs.dot_fold(col("v"), typedlit(cv)) / (col("norm") * lit(cnorm))).as("cs"),
        lit(-cell).as("negc"))
    }
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    val w = Window.partitionBy("cell")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    prepared(emb)
      .withColumn("cell", -best.getField("negc"))
      .withColumn("cosine", best.getField("cs"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
      .select(col("cell"), col("rank"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic FARTHEST-POINT seeding (Gonzalez k-center greedy, the
    * RNG-free stand-in for k-means‖/d²-weighting): start from the lowest
    * vec_id, then repeatedly add the vector whose maximum cosine to the
    * already-chosen set is SMALLEST — the most angularly remote vector —
    * with ties broken by lowest vec_id. Spreads seeds across clusters
    * where lowest-id init can land all k seeds in one cluster
    * (SimilaritySpec shows the objective gap on exactly that geometry).
    *
    * Scale shape: k−1 bounded driver actions, each ONE corpus scan — a
    * map-side max-cosine projection against the ≤k chosen literals and a
    * global top-1 (TopKPerKey-able single-key limit). Chosen seeds are
    * model state (k·d doubles), never data-sized. No RNG ⇒ bit-identical
    * on any partitioning, like every other barrier in this module.
    */
  def farthestPointInit(emb: DataFrame, k: Int): Seq[(Long, Seq[Double])] = {
    require(k >= 1, s"farthestPointInit k must be >= 1, got $k")
    val corpus = prepared(emb)
    var chosen = corpus
      .orderBy("vec_id").limit(1)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    require(chosen.nonEmpty, "farthestPointInit: empty corpus")
    while (chosen.size < k) {
      val sims = chosen.map { case (_, cv) =>
        val cnorm = math.sqrt(foldDot(cv, cv))
        VectorExprs.dot_fold(col("v"), typedlit(cv)) / (col("norm") * lit(cnorm))
      }
      val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
      val candidate = corpus
        .filter(!col("vec_id").isInCollection(chosen.map(_._1)))
        .withColumn("__ms", maxSim)
        .orderBy(col("__ms").asc, col("vec_id").asc).limit(1)
        .select("vec_id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      // Exhausted corpus with chosen.size < k would otherwise loop forever
      // (the filter excludes every vector, chosen stops growing): misuse
      // must fail loudly, not hang the driver running a job per spin.
      require(candidate.nonEmpty,
        s"farthestPointInit: k=$k exceeds corpus size ${chosen.size}")
      chosen = chosen ++ candidate
    }
    chosen
  }

  /** Distributed spherical k-means (Lloyd's) over the embedding corpus —
    * the IVF training step [[ivfTopK]]'s scaladoc defers to. Fully
    * deterministic and engine-reproducible:
    *
    *   - init: the `nCentroids` lowest-vec_id vectors (no RNG) by
    *     default, or [[farthestPointInit]] seeds via `init = "farthest"`
    *     (better spread, same determinism; q65's oracle replays the
    *     lowid form, so the query keeps the default);
    *   - assign: argmax cosine to the k×d centroid literals, ties to the
    *     lowest cell id — a pure projection over the corpus
    *     ([[argmaxCell]]), no shuffle of vectors, no window;
    *   - update: per-cell coordinate sums via `vec_sum_fixed` (exact
    *     int64 fixed-point, aggregation-order-free — a double sum would
    *     make the trained centroids partitioning-dependent), one k-row
    *     exchange; the k×d means collect to the driver and feed the next
    *     iteration's broadcast (the same O(k·d) barrier every iterative
    *     solver has — centroids are model state, never data-sized).
    *
    * Returns the long relation (cell, n_members, j, coord) of the
    * centroids after `iters` updates; cells that lose all members are
    * dropped (their rows simply don't appear). Cosine to an updated
    * centroid divides by the centroid norm computed IN-PLAN from the same
    * literals, so any engine replaying the identical IEEE ops gets
    * bit-identical assignments — the oracle hash-matches.
    */
  def kmeansCentroids(emb: DataFrame, nCentroids: Int, iters: Int,
      scaleBits: Int = 20, init: String = "lowid"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val scale = 1L << scaleBits
    val rows = for {
      (cell, n, s) <- kmeansFit(emb, nCentroids, iters, scaleBits, init)
        .toSeq.sortBy(_._1)
      (sj, j) <- s.zipWithIndex
    } yield (cell.toInt, n, j, sj.toDouble / scale.toDouble / n.toDouble)
    rows.toDF("cell", "n_members", "j", "coord")
  }

  /** The trained (cell → mean coords) literals after `iters` Lloyd
    * updates — the centroid list [[ivfTopKTrained]] serves against,
    * derived from the same fit as [[kmeansCentroids]]' long relation. */
  def kmeansCents(emb: DataFrame, nCentroids: Int, iters: Int,
      scaleBits: Int = 20, init: String = "lowid"): Seq[(Long, Seq[Double])] = {
    val scale = 1L << scaleBits
    kmeansFit(emb, nCentroids, iters, scaleBits, init).toSeq.sortBy(_._1)
      .map { case (cell, n, s) =>
        (cell, s.map(_.toDouble / scale.toDouble / n.toDouble))
      }
  }

  /** Shared Lloyd fit: (cell, n, coordinate sums) of the LAST assignment
    * round, from which both the centroid relation and the centroid
    * literals derive. */
  private def kmeansFit(emb: DataFrame, nCentroids: Int, iters: Int,
      scaleBits: Int, init: String): Array[(Long, Long, Seq[Long])] = {
    import graft.functions.VecSumFixed.vec_sum_fixed
    require(iters >= 1, s"kmeans iters must be >= 1, got $iters")
    val scale = 1L << scaleBits
    val corpus = prepared(emb)
    var cents: Seq[(Long, Seq[Double])] = init match {
      case "lowid" => corpus
        .orderBy("vec_id").limit(nCentroids)
        .select("v").collect().zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }.toSeq
      case "farthest" => farthestPointInit(emb, nCentroids)
        .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
      case other => throw new IllegalArgumentException(
        s"kmeans init must be 'lowid' or 'farthest', got '$other'")
    }
    require(cents.nonEmpty, "kmeansCentroids: empty corpus")
    var last: Array[(Long, Long, Seq[Long])] = null
    for (_ <- 1 to iters) {
      last = argmaxCell(corpus, cents)
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), vec_sum_fixed(col("v"), scale).as("s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      cents = last.toSeq.sortBy(_._1).map { case (cell, n, s) =>
        (cell, s.map(_.toDouble / scale.toDouble / n.toDouble))
      }
    }
    last
  }

  /** Exact cosine near-duplicate pairs: all (a < b) pairs with cosine ≥
    * threshold, candidates pruned to shared sign buckets ∪ brute force when
    * `bucketed` is false. Embedding-space analog of DedupOps near-dup. */
  def cosineDupPairs(emb: DataFrame, threshold: Double, nBits: Int): DataFrame = {
    val corpus = prepared(emb).withColumn("bucket", VectorExprs.sign_bucket(col("v"), nBits))
    val a = corpus.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = corpus.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorExprs.dot_fold(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Scalar int8 quantization of the embedding column — the compression
    * step an ANN index applies before serving (a 64-dim float corpus is 4×
    * smaller as codes; asymmetric distance then dequantizes on the fly).
    * Codebook: per-dimension global (min, max), code = round((x-min)·255/
    * (max-min)) via floor(+0.5) so both engines round identically — the
    * full 256-level uint8 code space (codes 0..255, half-step error bound
    * (max-min)/510, the Faiss-SQ8-style layout); a
    * constant dimension codes to 0. Emits per vector the code sum (an
    * integer checksum of the whole code matrix) and the max absolute
    * reconstruction error.
    *
    * Scale shape: the codebook is a per-dimension hash aggregate —
    * dimension cardinality is tiny (64 here, ≤4k for any real model), so
    * map-side partial aggregation reduces the exploded (dim, x) stream to
    * O(dim × partitions) shuffled rows — then ONE 1-row array-assembly
    * aggregate broadcast back over the corpus; the quantize itself is
    * map-only (codegen'd higher-order transforms, no second corpus pass,
    * no corpus shuffle). All arithmetic is IEEE double with identical
    * fold order in both engines, so q89 hash-matches exactly.
    */
  def int8Quantize(emb: DataFrame): DataFrame =
    quantized(emb)
      .withColumn("errs", expr("zip_with(v, dq, (x, y) -> abs(x - y))"))
      .select(
        col("vec_id"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("code_sum"),
        round(expr("array_max(errs)"), 6).as("max_abs_err"))

  /** The quantized corpus relation [[int8Quantize]] checksums and
    * [[int8ServeTopK]] serves from: (vec_id, v, norm, codes, dq, dqnorm)
    * — original vector, its 0..255 codes against the broadcast
    * per-dimension (min, max) codebook, and the on-the-fly dequantized
    * vector dq[i] = min[i] + code[i]·(max[i]−min[i])/255 with its norm.
    * One 1-row codebook aggregate + a map-only projection. */
  private def quantized(emb: DataFrame): DataFrame = {
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dims = v
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min("x").as("mn"), max("x").as("mx"))
    val codebook = dims.agg(
      expr("transform(sort_array(collect_list(struct(d, mn))), s -> s.mn)").as("mins"),
      expr("transform(sort_array(collect_list(struct(d, mx))), s -> s.mx)").as("maxs"))
    v.crossJoin(broadcast(codebook))
      .withColumn("codes", expr(
        """transform(v, (x, i) -> CASE WHEN maxs[i] = mins[i] THEN 0L
          |ELSE CAST(floor((x - mins[i]) * 255.0D / (maxs[i] - mins[i]) + 0.5D) AS BIGINT)
          |END)""".stripMargin))
      .withColumn("dq", expr(
        "transform(codes, (c, i) -> mins[i] + CAST(c AS DOUBLE) * (maxs[i] - mins[i]) / 255.0D)"))
      .withColumn("norm", sqrt(VectorExprs.dot_fold(col("v"), col("v"))))
      .withColumn("dqnorm", sqrt(VectorExprs.dot_fold(col("dq"), col("dq"))))
      .select("vec_id", "v", "norm", "codes", "dq", "dqnorm")
  }

  /** Embedding-space INCREMENTAL ADMISSION — q83's production ingest shape
    * for the vector modality: each ARRIVING vector is judged against the
    * STANDING corpus only (never corpus×corpus, never increment×corpus
    * brute force). Corpus vectors are assigned to their nearest of
    * `nCentroids` coarse cells once (the standing IVF index); each
    * arrival probes its `nProbe` nearest cells and is flagged a near-dup
    * of the LOWEST corpus vec_id with cosine ≥ `threshold` (full
    * precision — admission uses exact scores, not the int8 serving
    * reconstruction). One verdict row per arrival: (vec_id, near_dup_of
    * nullable, keep).
    *
    * Scale shape: assignment and probe lists are k×d-literal projections
    * (zero exchange); the arrival batch broadcasts; candidate scoring
    * touches probed cells only. The standing side persists exactly like
    * the text band index (bucket by cell at ingest). */
  def embeddingAdmission(emb: DataFrame, incPred: Column, nCentroids: Int,
      nProbe: Int, threshold: Double): DataFrame = {
    val all = prepared(emb)
    val corpus = all.filter(!incPred)
    val inc = all.filter(incPred)
    val cents = corpus
      .orderBy("vec_id").limit(nCentroids)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val assigned = argmaxCell(corpus, cents)
      .select(col("vec_id").as("corp_id"), col("v").as("cv"),
        col("norm").as("cnorm"), col("cell"))
    val probes = inc
      .select(col("vec_id").as("inc_id"), col("v").as("qv"),
        col("norm").as("qnorm"),
        explode(probeCellsCol(cents, nProbe)).as("cell"))
    val near = assigned
      .join(broadcast(probes), Seq("cell"))
      .withColumn("cosine",
        VectorExprs.dot_fold(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      .filter(col("cosine") >= threshold)
      .groupBy("inc_id").agg(min(col("corp_id")).as("near_dup_of"))
    inc.select(col("vec_id"))
      .join(near.withColumnRenamed("inc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("near_dup_of"),
        col("near_dup_of").isNull.as("keep"))
  }

  // ---- product quantization (PQ) -----------------------------------------

  /** L2 argmin assignment of a sub-vector column against (cell, coords)
    * literals, ties to the lowest cell: min ‖x−c‖² = min (c·c − 2·x·c),
    * expressed as `greatest` over (2·x·c − c·c, −cell) structs — the L2
    * twin of [[argmaxCell]], still a pure projection. */
  private def argminCellL2(sv: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val scored = cents.map { case (cell, cv) =>
      struct(
        (VectorExprs.dot_fold(sv, typedlit(cv)) * 2 - lit(foldDot(cv, cv))).as("sc"),
        lit(-cell).as("negc"))
    }
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    -best.getField("negc")
  }

  /** Shared PQ Lloyd fit: per SUB-SPACE L2 k-means over the m d/m-dim
    * sub-vector spaces, all m trained in the SAME corpus passes (one
    * inline-exploded aggregation per iteration — m rides as a key, not as
    * extra scans). Deterministic exactly like [[kmeansFit]]: lowest-vec_id
    * init, exact int64 `vec_sum_fixed` centroid sums, ties to the lowest
    * cell. Returns the last round's (sub, cell, n, coordinate sums).
    *
    * Every cell of every sub-quantizer must keep members (required
    * loudly): PQ serving indexes per-query distance tables by code, which
    * presumes the code space 0..ksub−1 is dense. */
  private def pqFit(emb: DataFrame, m: Int, ksub: Int, iters: Int,
      scaleBits: Int): Array[(Long, Long, Long, Seq[Long])] = {
    import graft.functions.VecSumFixed.vec_sum_fixed
    require(iters >= 1, s"pq iters must be >= 1, got $iters")
    val scale = 1L << scaleBits
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dim = corpus.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"pq: dim $dim not divisible into $m sub-vectors")
    val dsub = dim / m
    val initRows = corpus.orderBy("vec_id").limit(ksub).select("v").collect()
    require(initRows.length == ksub, s"pq: corpus smaller than ksub=$ksub")
    var cents: Map[Int, Seq[(Long, Seq[Double])]] = (0 until m).map { s0 =>
      s0 -> initRows.zipWithIndex.map { case (r, i) =>
        (i.toLong, r.getSeq[Double](0).slice(s0 * dsub, (s0 + 1) * dsub))
      }.toSeq
    }.toMap
    var last: Array[(Long, Long, Long, Seq[Long])] = null
    for (_ <- 1 to iters) {
      val parts = (0 until m).map { s0 =>
        val sv = slice(col("v"), s0 * dsub + 1, dsub)
        struct(lit(s0.toLong).as("sub"),
          argminCellL2(sv, cents(s0)).as("cell"), sv.as("sv"))
      }
      last = corpus.select(inline(array(parts: _*)))
        .groupBy("sub", "cell")
        .agg(count(lit(1)).as("n"), vec_sum_fixed(col("sv"), scale).as("s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3)))
      cents = last.groupBy(_._1.toInt).map { case (s0, rows) =>
        s0 -> rows.toSeq.sortBy(_._2).map { case (_, cell, n, sums) =>
          (cell, sums.map(_.toDouble / scale.toDouble / n.toDouble))
        }
      }.toMap
      (0 until m).foreach { s0 =>
        require(cents(s0).map(_._1) == (0L until ksub.toLong),
          s"pq: sub-quantizer $s0 lost a cell (codes must stay dense)")
      }
    }
    last
  }

  /** The trained per-sub-space codebooks as literals: sub → sorted
    * (cell, coords). */
  private def pqCents(emb: DataFrame, m: Int, ksub: Int, iters: Int,
      scaleBits: Int): Map[Int, Seq[(Long, Seq[Double])]] = {
    val scale = 1L << scaleBits
    pqFit(emb, m, ksub, iters, scaleBits).groupBy(_._1.toInt).map {
      case (s0, rows) =>
        s0 -> rows.toSeq.sortBy(_._2).map { case (_, cell, n, sums) =>
          (cell, sums.map(_.toDouble / scale.toDouble / n.toDouble))
        }
    }.toMap
  }

  /** PRODUCT-QUANTIZATION training (Jégou et al., "Product quantization
    * for nearest neighbor search", TPAMI 2011): m independent L2
    * sub-quantizers of ksub centroids each — the codebook whose codes are
    * m small ints per vector (here m=4 × 8 cells = 4096 distinct codes
    * from 12 bits, vs int8's 64 bytes). Returns the long relation
    * (sub, cell, n_members, j, coord) after `iters` Lloyd rounds —
    * deterministic and oracle-replayable exactly like [[kmeansCentroids]].
    *
    * Scale shape: per iteration ONE corpus pass (the m sub-spaces ride an
    * inline explode into the same hash aggregate, m×ksub×(d/m) exchange
    * rows) and a model-sized collect; serving never touches the corpus
    * vectors again — codes are a map-only projection against the m×ksub×
    * (d/m) literals. */
  def pqCentroidsRelation(emb: DataFrame, m: Int, ksub: Int, iters: Int,
      scaleBits: Int = 20): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val scale = 1L << scaleBits
    val rows = for {
      (sub, cell, n, sums) <- pqFit(emb, m, ksub, iters, scaleBits).toSeq
        .sortBy(r => (r._1, r._2))
      (sj, j) <- sums.zipWithIndex
    } yield (sub, cell, n, j.toLong, sj.toDouble / scale.toDouble / n.toDouble)
    rows.toDF("sub", "cell", "n_members", "j", "coord")
  }

  /** PQ + ADC serving composed with the IVF coarse probe — the q89→q92
    * pattern with the corpus payload shrunk to m PQ codes: queries stay
    * full-precision, each candidate is scored by ASYMMETRIC DISTANCE
    * ‖q − reconstruct(codes)‖² = Σ_s (q_s·q_s − 2·q_s·c_{s,code_s} +
    * c·c), computed through a PER-QUERY lookup table (m×ksub distances,
    * built once per query as a pure projection against the codebook
    * literals; scoring a candidate is m table lookups + an in-row fold —
    * the ADC trick that makes PQ serving O(m) per candidate regardless of
    * d). Coarse IVF: corpus assigned to its nearest of `nCentroids`
    * lowest-id centroids by cosine (exactly [[int8ServeTopK]]'s coarse
    * quantizer), queries probe `nProbe` cells. Ranking: distance ASC,
    * ties to the lowest neighbor id; fully deterministic, oracle replays
    * training + codes + tables bit-identically. */
  def pqServeTopK(emb: DataFrame, queryPred: Column, k: Int, m: Int,
      ksub: Int, iters: Int, nCentroids: Int, nProbe: Int = 1,
      scaleBits: Int = 20): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val corpus = prepared(emb)
    val dim = corpus.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"pq: dim $dim not divisible into $m sub-vectors")
    val dsub = dim / m
    val cb = pqCents(emb, m, ksub, iters, scaleBits)
    val codesCol = array((0 until m).map { s0 =>
      argminCellL2(slice(col("v"), s0 * dsub + 1, dsub), cb(s0))
    }: _*)
    val coarse = corpus
      .orderBy("vec_id").limit(nCentroids)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val assigned = argmaxCell(corpus, coarse)
      .select(col("vec_id"), codesCol.as("codes"), col("cell"))
    // per-query ADC table: for each sub-space an array over cells of
    // q_s·q_s − 2·q_s·c + c·c — m×ksub dot projections, query-side only
    // (built over the un-renamed corpus columns, in the same select as the
    // probe-cell explode, which also reads v/norm)
    val qtab = array((0 until m).map { s0 =>
      val qs = slice(col("v"), s0 * dsub + 1, dsub)
      array(cb(s0).map { case (_, cv) =>
        VectorExprs.dot_fold(qs, qs) -
          lit(2.0) * VectorExprs.dot_fold(qs, typedlit(cv)) +
          lit(foldDot(cv, cv))
      }: _*)
    }: _*)
    val queries = corpus
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), qtab.as("qtab"),
        explode(probeCellsCol(coarse, nProbe)).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("vec_id").asc)
    assigned
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", expr(
        "aggregate(zip_with(codes, qtab, " +
          "(cd, tab) -> element_at(tab, CAST(cd AS INT) + 1)), " +
          "0D, (acc, x) -> acc + x)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("dist"), 6).as("adc_dist"))
  }

  /** ASYMMETRIC-DISTANCE serving over the int8 codes — the query half of
    * the compress-then-serve loop [[int8Quantize]] is the index half of
    * (IVF+SQ style): queries stay full-precision floats, the corpus is
    * represented ONLY by its codes, and each candidate is scored as
    * cos(q, dequantize(codes)) reconstructed on the fly from the
    * broadcast codebook. Composed with the [[ivfTopK]] coarse quantizer:
    * corpus vectors are assigned to their nearest of `nCentroids` cells
    * at INDEX time (original-vector assignment, the stored-index
    * decision), each query probes its `nProbe` nearest cells.
    *
    * Scale shape: everything [[ivfTopKWith]] has — cell assignment and
    * probe lists are projections against k×d literals, queries broadcast,
    * rank is the TopKPerKey window — plus the serving payload per corpus
    * row is the code array (4× smaller at rest; dequantization is a
    * map-side higher-order transform, no extra pass or shuffle).
    * Deterministic: identical IEEE fold order in both engines, scores
    * rounded to 6 dp before ranking, ties to the lowest neighbor id. */
  def int8ServeTopK(emb: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int, nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val qz = quantized(emb)
    val cents = qz
      .orderBy("vec_id").limit(nCentroids)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val assigned = argmaxCell(qz, cents)
      .select(col("vec_id"), col("dq"), col("dqnorm"), col("cell"))
    val queries = qz
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"),
        explode(probeCellsCol(cents, nProbe)).as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    assigned
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        VectorExprs.dot_fold(col("qv"), col("dq")) / (col("qnorm") * col("dqnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): k-means the
    * embedding space, then WITHIN each trained cluster drop every vector
    * that has a strictly-lower-id neighbor at cosine ≥ `threshold` —
    * semantic near-dup pruning whose candidate set is CLUSTER-scoped,
    * never corpus². The trained-quantizer sibling of
    * [[cosineDupPairs]]' sign-LSH buckets: clusters follow the data
    * instead of fixed hyperplanes, so paraphrase groups land together
    * even when their leading-coordinate signs differ.
    *
    * Output: (vec_id, cell, dup_of nullable — the LOWEST same-cell
    * lower-id vector over the threshold — keep). Fully deterministic:
    * centroids come from the exact-int64 Lloyd machinery
    * ([[kmeansCents]], lowest-id init), assignment ties go to the lowest
    * cell, the survivor of a duplicate group is its lowest id — the
    * oracle replays training round for round.
    *
    * Scale shape: training is one aggregation per Lloyd round;
    * assignment is a map-side projection against the k×d centroid
    * literals; the ONLY data-sized exchange is the per-cell self-join,
    * bounded by `cellCap`: cells past the cap split into
    * ⌈size/cap⌉ deterministic id-hash sub-buckets (the SemDeDup paper's
    * split-oversized-clusters move — comparisons across sub-buckets of a
    * cell are forgone, the documented recall trade-off), PLUS a leader
    * pass — every member also scores against each sub-bucket's lowest-id
    * member of its cell — so a mega-cell that is one near-dup clique (the
    * boilerplate-page case that motivates the cap) still converges to the
    * exact uncapped keep set: each bucket's survivors see the global
    * lowest id through its leader row. Per-cell pair cost drops from
    * size² to size·cap + size·⌈size/cap⌉. With the default unbounded cap
    * the single-branch uncapped join runs — q113 is plan- and
    * bit-identical to the pre-cap operator (SemDedupCapSpec pins capped ≡
    * uncapped on clique fixtures and the pair-count bound). */
  def semDedup(emb: DataFrame, nCentroids: Int, iters: Int,
      threshold: Double, cellCap: Int = Int.MaxValue): DataFrame = {
    require(cellCap >= 1, s"cellCap must be >= 1, got $cellCap")
    val assigned = semAssigned(emb, nCentroids, iters)
    val dups = semCandidatePairs(assigned, cellCap)
      .withColumn("__cos",
        VectorExprs.dot_fold(col("v"), col("__bv")) / (col("norm") * col("__bnorm")))
      .filter(col("__cos") >= threshold)
      .groupBy("vec_id").agg(min(col("__bid")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dup_of"), col("dup_of").isNull.as("keep"))
  }

  /** The trained-and-assigned relation (vec_id, v, norm, cell) semDedup
    * dedups over — factored out so the spec can count candidate pairs. */
  private[graft] def semAssigned(emb: DataFrame, nCentroids: Int,
      iters: Int): DataFrame =
    argmaxCell(prepared(emb), kmeansCents(emb, nCentroids, iters))

  /** semDedup's candidate pair relation (vec_id side + __bid/__bv/__bnorm
    * lower side). Uncapped: the full within-cell lower-id self-join.
    * Capped: within-(cell, sub-bucket) pairs UNION member-vs-sub-leader
    * pairs (see [[semDedup]]); a pair may appear in both legs — the
    * downstream min() aggregate is insensitive to multiplicity. */
  private[graft] def semCandidatePairs(assigned: DataFrame,
      cellCap: Int): DataFrame = {
    val pairCols = Seq(col("vec_id"), col("v"), col("norm"),
      col("__bid"), col("__bv"), col("__bnorm"))
    if (cellCap == Int.MaxValue) {
      val lower = assigned.select(col("cell"), col("vec_id").as("__bid"),
        col("v").as("__bv"), col("norm").as("__bnorm"))
      assigned.join(lower, Seq("cell"))
        .filter(col("__bid") < col("vec_id"))
        .select(pairCols: _*)
    } else {
      // cell-size histogram: ≤ nCentroids rows, catalog-sized → broadcast.
      // Sub-bucket hash is a multiplicative mod-P mix (NOT xxhash64): the
      // same expression is replayable in any engine, so the capped path is
      // oracle-checkable (q117) — and ((id mod P)·2654435761) stays within
      // int64 for any id.
      val cnts = assigned.groupBy("cell").agg(count(lit(1)).as("__cn"))
      val sub = assigned.join(broadcast(cnts), Seq("cell"))
        .withColumn("__s", expr(s"(__cn + ${cellCap - 1}L) div ${cellCap}L"))
        .withColumn("__sub", pmod(
          pmod(col("vec_id"), lit(1000000007L)) * lit(2654435761L) % lit(1000000007L),
          col("__s")))
        .select("cell", "__sub", "vec_id", "v", "norm")
      val lower = sub.select(col("cell"), col("__sub"),
        col("vec_id").as("__bid"), col("v").as("__bv"), col("norm").as("__bnorm"))
      val within = sub.join(lower, Seq("cell", "__sub"))
        .filter(col("__bid") < col("vec_id"))
        .select(pairCols: _*)
      // per-(cell, sub) leaders: Σ⌈size/cap⌉ rows — no broadcast hint, AQE
      // decides from measured bytes as the corpus grows
      val leaders = sub.groupBy("cell", "__sub").agg(min("vec_id").as("__bid"))
        .join(sub.select(col("vec_id").as("__bid"), col("v").as("__bv"),
          col("norm").as("__bnorm")), Seq("__bid"))
        .select("cell", "__bid", "__bv", "__bnorm")
      val vsLeaders = sub.join(leaders, Seq("cell"))
        .filter(col("__bid") < col("vec_id"))
        .select(pairCols: _*)
      within.unionByName(vsLeaders)
    }
  }

  /** IVFADC — PQ over COARSE RESIDUALS (Jégou et al., TPAMI 2011 §IV,
    * the full "IVFADC" system): corpus vectors are assigned to their
    * coarse IVF cell, the PQ codebooks are trained on the RESIDUALS
    * x − c(cell(x)) (which concentrate around 0, so the same code budget
    * quantizes a far smaller support than raw vectors), and serving
    * scores candidates by asymmetric distance with a PER-(query, cell)
    * lookup table built from the query's residual against THAT cell —
    * ‖(q−c) − code(x−c)‖² approximates ‖q − x‖² within a probed cell.
    *
    * Everything rides the existing deterministic machinery: lowest-id
    * coarse centroids (as [[ivfTopK]]), lowest-id residual init + exact
    * int64 Lloyd sums (as [[pqServeTopK]]'s codebooks), ties to the
    * lowest cell/neighbor — the oracle replays training bit for bit.
    * Scale shape: residual computation is a map-side zip_with against
    * the k×d centroid-map literal (no shuffle), training is the same one
    * aggregation per Lloyd round, serving tables are (queries×nProbe)-
    * sized, and candidate scoring stays m lookups per candidate. */
  def ivfadcTopK(emb: DataFrame, queryPred: Column, k: Int, m: Int,
      ksub: Int, iters: Int, nCentroids: Int, nProbe: Int = 1,
      scaleBits: Int = 20): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val corpus = prepared(emb)
    val dim = corpus.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"ivfadc: dim $dim not divisible into $m sub-vectors")
    val dsub = dim / m
    val coarse = corpus
      .orderBy("vec_id").limit(nCentroids)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val cmap = typedlit(coarse.toMap)
    def residOf(vc: Column, cellc: Column): Column =
      zip_with(vc, element_at(cmap, cellc), (x, c) => x - c)
    val resid = argmaxCell(corpus, coarse)
      .withColumn("__r", residOf(col("v"), col("cell")))
    // Train on NON-CENTROID residuals only: a coarse centroid's residual
    // in its own cell is the zero vector, so the lowest-id init (ids ≤
    // the centroid ids) would seed every sub-quantizer with ksub copies
    // of 0 and collapse training to one cell. Members carry the actual
    // residual geometry; every vector (centroids included) still gets
    // codes from the trained books below.
    val coarseIds = coarse.map(_._1)
    val cb = pqCents(
      resid.filter(!col("vec_id").isin(coarseIds: _*))
        .select(col("vec_id"), col("__r").as("embedding")),
      m, ksub, iters, scaleBits)
    val codesCol = array((0 until m).map { s0 =>
      argminCellL2(slice(col("__r"), s0 * dsub + 1, dsub), cb(s0))
    }: _*)
    val assigned = resid.select(col("vec_id"), codesCol.as("codes"), col("cell"))
    // per-(query, probed cell) ADC table from the QUERY residual against
    // that cell — still query-side-only projections
    def qtabOf(qr: Column): Column = array((0 until m).map { s0 =>
      val qs = slice(qr, s0 * dsub + 1, dsub)
      array(cb(s0).map { case (_, cv) =>
        VectorExprs.dot_fold(qs, qs) -
          lit(2.0) * VectorExprs.dot_fold(qs, typedlit(cv)) +
          lit(foldDot(cv, cv))
      }: _*)
    }: _*)
    val queries = corpus
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v"),
        explode(probeCellsCol(coarse, nProbe)).as("cell"))
      .withColumn("__qr", residOf(col("v"), col("cell")))
      .select(col("query_id"), col("cell"), qtabOf(col("__qr")).as("qtab"))
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("vec_id").asc)
    assigned
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", expr(
        "aggregate(zip_with(codes, qtab, " +
          "(cd, tab) -> element_at(tab, CAST(cd AS INT) + 1)), " +
          "0D, (acc, x) -> acc + x)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("dist"), 6).as("adc_dist"))
  }

  // ---- persisted standing vector index -----------------------------------
  // The embedding-modality twin of DedupOps.buildBandIndex: assign the
  // corpus to its IVF cells ONCE, persist cell-bucketed, and serve every
  // arriving batch from the prebuilt relations — per-batch cost flat as
  // the corpus grows, where embeddingAdmission re-prepares and re-assigns
  // the whole corpus on every call.

  /** Build the standing index: two bucketed tables under `name_*` at
    * `location` plus a `name_meta` pin.
    *   - `name_cells` (cell, vec_id, v, norm) bucketed by cell: the probe
    *     join needs ZERO exchange on this side — a batch broadcasts into
    *     the bucket-colocated scan;
    *   - `name_cents` (cell, cv, cnorm): the k×d centroid relation probes
    *     load as literals (model-sized);
    * `name_meta` pins (n_centroids, buckets, dataset_tag) so a probe can
    * never silently use a different coarse quantizer than the build.
    * Centroids are the lowest-vec_id corpus vectors — exactly
    * [[embeddingAdmission]]'s deterministic pick, so probe verdicts are
    * bit-identical to the recompute-everything path (spec-pinned; q110's
    * oracle is q99's SQL).
    *
    * 100 TB: the build is one corpus pass (a k×d-literal argmax
    * projection, no shuffle beyond the bucketed write); every subsequent
    * batch skips it. */
  def buildVecIndex(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      name: String, nCentroids: Int, location: String, buckets: Int = 16,
      datasetTag: String = ""): Unit = {
    import spark.implicits._
    val prep = prepared(corpus)
    val cents = prep
      .orderBy("vec_id").limit(nCentroids)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    argmaxCell(prep, cents)
      .select(col("cell"), col("vec_id"), col("v"), col("norm"))
      .write.mode("overwrite").option("path", s"$location/cells")
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(s"${name}_cells")
    cents.map { case (cell, cv) => (cell, cv, math.sqrt(foldDot(cv, cv))) }
      .toDF("cell", "cv", "cnorm")
      .write.mode("overwrite").option("path", s"$location/cents")
      .saveAsTable(s"${name}_cents")
    Seq((nCentroids, buckets, datasetTag))
      .toDF("n_centroids", "buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$location/meta")
      .saveAsTable(s"${name}_meta")
  }

  /** Whether a standing vector index `name` exists AND was built from
    * `datasetTag` — the same probe-time guard as
    * DedupOps.bandIndexMatches (missing table / unreadable meta / tag
    * mismatch ⇒ rebuild, never probe a wrong-scale index). ALL THREE
    * tables must exist, not just meta: build order writes meta last, so a
    * fresh build always passes, but a partial cleanup that dropped
    * cells/cents while leaving meta behind must answer "rebuild" — a
    * meta-only check would skip the rebuild and the next probe would die
    * on a missing table. */
  def vecIndexMatches(spark: org.apache.spark.sql.SparkSession, name: String,
      datasetTag: String): Boolean =
    graft.util.Snapshots.storeTagged(spark, name, Seq("cells", "cents"), datasetTag)

  /** The persisted centroid relation back as driver literals (model-sized:
    * k rows of d doubles). */
  private def loadCents(spark: org.apache.spark.sql.SparkSession,
      name: String): Seq[(Long, Seq[Double])] =
    spark.table(s"${name}_cents").select("cell", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  /** Incremental MAINTENANCE: append a batch of newly ADMITTED vectors
    * (the `keep = true` rows a [[probeVecIndex]] pass let through) to the
    * cell relation — a bucket-aligned append of batch-sized data assigned
    * against the PINNED centroids, so the corpus is never re-assigned and
    * the index never rebuilt. After the append, probes see the union
    * corpus exactly as if the index had been built from scratch over it
    * with the same centroids (spec-pinned).
    *
    * `idempotent = true` guards against at-least-once replay (the
    * foreachBatch contract: a batch retried after a successful append
    * must not insert its rows twice): the batch anti-joins on vec_id
    * against the EXISTING cell rows before writing. The anti-join is
    * bucket-pruned to the batch's own target cells — replayed vectors
    * assign to the same cells under the pinned centroids, so only those
    * cells' files are read and the guard stays batch-sized, not
    * corpus-sized. */
  def appendToVecIndex(spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame, name: String, idempotent: Boolean = false): Unit = {
    val buckets = graft.util.Snapshots.metaRow(spark, s"${name}_meta")
      .getAs[Int]("buckets")
    val assigned = argmaxCell(prepared(newVecs), loadCents(spark, name))
      .select(col("cell"), col("vec_id"), col("v"), col("norm"))
    val rows = if (!idempotent) assigned else {
      val touched = assigned.select("cell").distinct().collect().map(_.getLong(0))
      // evaluate the guard against the PRE-append cells (the write below
      // appends to the same table the anti-join reads)
      assigned.join(
        spark.table(s"${name}_cells").filter(col("cell").isin(ArraySeq.unsafeWrapArray(touched): _*))
          .select("vec_id"),
        Seq("vec_id"), "left_anti").localCheckpoint()
    }
    rows.write.mode("append")
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(s"${name}_cells")
  }

  /** Probe the standing index with an arriving batch: verdict rows are
    * IDENTICAL to `embeddingAdmission(corpus ∪ batch, batch, …)` — same
    * probe-cell expression against the pinned centroid literals, same
    * exact-cosine threshold, same min-corp_id resolution — but the
    * corpus-side work is a scan of the prebuilt cell relation: nothing
    * re-prepares, re-norms, or re-assigns the corpus. The batch
    * broadcasts; candidate scoring touches probed cells only. */
  def probeVecIndex(spark: org.apache.spark.sql.SparkSession,
      increment: DataFrame, name: String, nProbe: Int,
      threshold: Double): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cents = loadCents(spark, name)
    val inc = prepared(increment)
    val probes = inc
      .select(col("vec_id").as("inc_id"), col("v").as("qv"),
        col("norm").as("qnorm"),
        explode(probeCellsCol(cents, nProbe)).as("cell"))
    // The batch's distinct probed cells (≤ nCentroids values — model-sized
    // collect) pushed as an IN filter on the BUCKETED cell column: Spark's
    // bucket pruning then skips every untouched bucket's files, so a small
    // batch reads O(touched cells), not O(corpus) — the piece that makes
    // the standing index sublinear where the rebuild path must always
    // re-scan everything. Dropping non-probed cells cannot change
    // verdicts: the cell equi-join discards them anyway (spec-pinned
    // bit-equality with embeddingAdmission).
    val touched = probes.select("cell").distinct().collect().map(_.getLong(0))
    val near = spark.table(s"${name}_cells")
      .filter(col("cell").isin(ArraySeq.unsafeWrapArray(touched): _*))
      .select(col("cell"), col("vec_id").as("corp_id"), col("v").as("cv"),
        col("norm").as("cnorm"))
      .join(broadcast(probes), Seq("cell"))
      .withColumn("cosine",
        VectorExprs.dot_fold(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")))
      .filter(col("cosine") >= threshold)
      .groupBy("inc_id").agg(min(col("corp_id")).as("near_dup_of"))
    inc.select(col("vec_id"))
      .join(near.withColumnRenamed("inc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("near_dup_of"),
        col("near_dup_of").isNull.as("keep"))
  }

  /** q181: 1-bit binary quantization + Hamming ANN with recall@k — the
    * BQ serving tier below q89's int8 (the modern vector-DB default for
    * the first-pass scan): each vector compresses to ⌈d/32⌉ sign-bit
    * words (64 dims → two BIGINTs: a 32× payload cut vs float64, 8× vs
    * int8), and candidates rank by Hamming distance
    * Σ_w bit_count(q_w XOR c_w) — INTEGER-only scoring, zero float math
    * in the hot path, so the compare is exact and engine-invariant by
    * construction (no rounding discipline needed until the recall
    * division). Words are 32-bit (not 64) because packing bit 63 of a
    * signed 64-bit word overflows checked engines; ⌈d/32⌉ words cover
    * any dimension. Recall@k against the exact cosine top-k ([[cosineTopK]],
    * same k, same tie-breaks) measures what the 1-bit cut costs per query.
    *
    * Scale shape: the code relation is a map-only projection (the
    * standing serving payload a BQ index materializes); the query set is
    * bounded and broadcast; per-query ranking is the q27
    * WindowGroupLimit shape (per-partition top-k before the exchange);
    * the recall join touches only |queries|·k rows. One corpus pass per
    * scoring leg, no corpus-side shuffle. */
  /** q191: the two-stage BQ serving path [[binaryHammingRecall]]'s raw
    * numbers argue for — stage 1 shortlists `c` candidates per query by
    * Hamming over the 1-bit codes (integer-only, the full-corpus scan),
    * stage 2 re-ranks ONLY the shortlist by exact cosine and returns
    * top-k, with recall@k against the exact brute-force top-k. This is
    * how production BQ indexes actually serve (coarse binary scan +
    * float re-rank of ~1% of the corpus): recall recovers to ~1 while
    * the float math touches only |queries|·c vectors.
    *
    * Scale shape: stage 1 is [[binaryHammingRecall]]'s map-only scan +
    * WindowGroupLimit top-c; stage 2 joins the c-sized shortlist back to
    * the corpus BY KEY (neighbor_id) — candidate-bounded, not
    * corpus-bounded — then a |queries|·c-row rank window. */
  def binaryRerankRecall(emb: DataFrame, queryPred: Column, k: Int,
      c: Int): DataFrame = {
    val corpus = prepared(emb)
    val shortlist = binaryHammingTopK(emb, queryPred, c)
      .select(col("query_id"), col("neighbor_id"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    val scored = shortlist
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")),
        Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cosine",
        VectorExprs.dot_fold(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val top = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    val exact = cosineTopK(emb, queryPred, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    top
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .na.fill(0L, Seq("hit"))
      .withColumn("recall",
        round(sum("hit").over(Window.partitionBy("query_id")).cast("double") / k, 6))
      .select("query_id", "rank", "neighbor_id", "cosine", "hit", "recall")
  }

  /** The Hamming top-k leg alone — (query_id, rank, neighbor_id,
    * hamming) — shared by the raw-recall measurement and q191's
    * shortlist stage. The 32-bit word count is derived PER ROW from the
    * embedding's own length (⌈size/32⌉), so any dimensionality codes
    * losslessly — nothing is silently dropped past 64 dims. */
  def binaryHammingTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val coded = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bits", expr(
        "transform(v, (x, i) -> IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i % 32), 0L))"))
      .withColumn("code", expr(
        "transform(sequence(0, greatest(CAST(ceil(size(v) / 32.0) AS INT) - 1, 0)), " +
          "w -> aggregate(slice(bits, w * 32 + 1, 32), 0L, (a, b) -> a | b))"))
      .select(col("vec_id"), col("code"))
    val queries = coded.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("code").as("qcode"))
    val scored = coded
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("hamming", expr(
        "CAST(aggregate(zip_with(qcode, code, (a, b) -> bit_count(a ^ b)), 0, (a, b) -> a + b) AS BIGINT)"))
    val w = Window.partitionBy("query_id").orderBy(col("hamming").asc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("hamming"))
  }

  def binaryHammingRecall(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val top = binaryHammingTopK(emb, queryPred, k)
    val exact = cosineTopK(emb, queryPred, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    top
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .na.fill(0L, Seq("hit"))
      .withColumn("recall",
        round(sum("hit").over(Window.partitionBy("query_id")).cast("double") / k, 6))
      .select("query_id", "rank", "neighbor_id", "hamming", "hit", "recall")
  }
}
