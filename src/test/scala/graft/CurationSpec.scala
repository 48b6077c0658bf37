package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.text.CurationOps

/** Curation operators (q123-q125) on planted fixtures.
  *
  * boilerplateStrip: a segment repeated across >= minDocs docs is dropped
  * from every doc (including reassembly order and the all-boilerplate
  * doc's empty clean_text); a segment repeated < minDocs survives.
  *
  * chunk: window/stride geometry (starts, overlap content, short tail),
  * and identical text ⇒ identical chunk hashes (the cross-doc dedup key).
  *
  * mmrRerank: checked against an in-test greedy reference over the same
  * integerized sims — in a pool where the two most query-similar
  * candidates are near-duplicates of each other, rank 2 must skip the
  * redundant one (the defining MMR behavior vs plain top-k).
  */
class CurationSpec extends SparkSpec {

  // ---- boilerplateStrip ---------------------------------------------------

  /** 6-token segments; "b0 .. b5" planted in docs 1,2,3 (boilerplate at
    * minDocs=3); "r0 .. r5" planted in docs 1,2 only (kept). Doc 4 is
    * pure boilerplate. */
  private lazy val boilDocs: DataFrame = {
    import spark.implicits._
    val boil = (0 until 6).map(i => s"b$i").mkString(" ")
    val rare = (0 until 6).map(i => s"r$i").mkString(" ")
    val u = (d: Int) => (0 until 6).map(i => s"u${d}_$i").mkString(" ")
    Seq(
      (1L, s"${u(1)} $boil $rare"),
      (2L, s"$boil ${u(2)} $rare"),
      (3L, s"$boil ${u(3)}"),
      (4L, boil),
      (5L, u(5)),
    ).toDF("doc_id", "text")
  }

  private lazy val stripped: Map[Long, Row] =
    CurationOps.boilerplateStrip(boilDocs, segTokens = 6, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("boilerplate segment dropped everywhere; order preserved") {
    val boil = (0 until 6).map(i => s"b$i").mkString(" ")
    val rare = (0 until 6).map(i => s"r$i").mkString(" ")
    assert(stripped(1L).getString(1) == s"${(0 until 6).map(i => s"u1_$i").mkString(" ")} $rare")
    assert(stripped(2L).getString(1) == s"${(0 until 6).map(i => s"u2_$i").mkString(" ")} $rare")
    assert(!stripped.values.exists(_.getString(1).contains(boil)))
  }

  test("sub-threshold repeats survive; untouched docs pass through") {
    val rare = (0 until 6).map(i => s"r$i").mkString(" ")
    assert(stripped(1L).getString(1).endsWith(rare)) // repeated in 2 docs < minDocs
    assert(stripped(5L).getString(1) == (0 until 6).map(i => s"u5_$i").mkString(" "))
    assert(stripped(5L).getLong(4) == 0L) // dropped_segments
  }

  test("all-boilerplate doc collapses to empty text with frac 1.0") {
    assert(stripped(4L).getString(1) == "")
    assert(stripped(4L).getLong(3) == 0L) // kept_tokens
    assert(stripped(4L).getDouble(5) == 1.0)
  }

  test("token accounting: n_tokens = kept + dropped segment tokens") {
    stripped.values.foreach { r =>
      val n = r.getLong(2); val kept = r.getLong(3)
      assert(n >= kept && (kept == n) == (r.getLong(4) == 0L))
    }
    assert(stripped(1L).getLong(2) == 18L)
    assert(stripped(1L).getLong(3) == 12L)
  }

  // ---- chunk --------------------------------------------------------------

  test("chunk geometry: starts, overlap, short tail") {
    import spark.implicits._
    val toks = (0 until 80).map(i => s"t$i")
    val docs = Seq((7L, toks.mkString(" "))).toDF("doc_id", "text")
    val rows = CurationOps.chunk(docs, window = 32, stride = 24)
      .orderBy("chunk_id").collect()
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 24L, 48L, 72L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(32L, 32L, 32L, 8L))
    // overlap: chunk 1 starts 8 tokens before chunk 0 ends
    assert(rows(1).getString(5).startsWith("t24 t25"))
    assert(rows(0).getString(5).endsWith("t30 t31"))
    assert(rows(3).getString(5) == (72 until 80).map(i => s"t$i").mkString(" "))
  }

  test("identical chunk text across docs shares chunk_hash") {
    import spark.implicits._
    val shared = (0 until 32).map(i => s"s$i").mkString(" ")
    val docs = Seq((1L, shared), (2L, shared), (3L, (0 until 32).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val hs = CurationOps.chunk(docs, 32, 24).select("doc_id", "chunk_hash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L) && hs(1L) != hs(3L))
  }

  // ---- mmrRerank ----------------------------------------------------------

  /** Query 0 = e0; candidates 10/11 are scaled near-copies of each other at
    * cos 0.8 to q (so their MUTUAL cos is ~1.0 but neither is ~the query —
    * at lambda 0.7 a duplicate of a pick at cos~1 to q would still win on
    * relevance); 12 is almost as relevant (cos 0.751) but nearly orthogonal
    * to 10 (cos 0.204). Plain top-2 = (10, 11); MMR rank 2 must be 12. */
  private lazy val mmrEmb: DataFrame = {
    import spark.implicits._
    def v(xs: Double*) = xs.toArray
    val rows = Seq(
      (0L, v(1, 0, 0, 0)),
      (10L, v(0.8, 0.6, 0, 0)),
      (11L, v(1.6, 1.2001, 0, 0)),
      (12L, v(0.75, -0.66, 0, 0)),
      (13L, v(0.1, 0, 1, 0)),
      (14L, v(0, 0, 0, 1)),
      (15L, v(-1, 0, 0, 0)),
    )
    rows.toDF("vec_id", "embedding")
  }

  test("MMR skips the redundant near-duplicate that plain top-k keeps") {
    val out = CurationOps.mmrRerank(mmrEmb, col("vec_id") === 0, poolK = 6, k = 3, lamX10 = 7)
      .orderBy("rank").collect()
    val picks = out.map(_.getLong(1)).toSeq // neighbor_id per rank
    assert(picks.head == 10L)          // best sim
    assert(picks(1) == 12L)            // diverse beats near-dup 11
    assert(!picks.take(2).contains(11L))
  }

  test("MMR agrees with an in-test greedy reference over integer sims") {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    import spark.implicits._
    val vecs = mmrEmb.as[(Long, Array[Double])].collect().toMap
    val q = vecs(0L)
    val sims = vecs.filter(_._1 != 0L).map { case (id, v) => id -> math.round(cos(q, v) * 1e6) }
    val pool = sims.toSeq.sortBy { case (id, s) => (-s, id) }.take(6)
    var sel = List.empty[Long]
    (1 to 3).foreach { _ =>
      val pick = pool.filter(p => !sel.contains(p._1)).map { case (id, s) =>
        val pen = if (sel.isEmpty) 0L
          else sel.map(sid => math.round(cos(vecs(id), vecs(sid)) * 1e6)).max
        (id, 7L * s - 3L * pen)
      }.minBy { case (id, score) => (-score, id) }
      sel = sel :+ pick._1
    }
    val out = CurationOps.mmrRerank(mmrEmb, col("vec_id") === 0, poolK = 6, k = 3, lamX10 = 7)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(out == sel)
  }

  test("packed MMR is row-for-row identical to the join-loop form") {
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // planted fixture
    assert(
      rows(CurationOps.mmrRerankPacked(mmrEmb, col("vec_id") === 0, 6, 3, 7).select("query_id", "rank", "neighbor_id", "score6")) ==
      rows(CurationOps.mmrRerank(mmrEmb, col("vec_id") === 0, 6, 3, 7).select("query_id", "rank", "neighbor_id", "score6")))
    // real embeddings, the q125 operating point
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    assert(
      rows(CurationOps.mmrRerankPacked(emb, col("vec_id") < 5, 10, 5, 7).select("query_id", "rank", "neighbor_id", "score6")) ==
      rows(CurationOps.mmrRerank(emb, col("vec_id") < 5, 10, 5, 7).select("query_id", "rank", "neighbor_id", "score6")))
  }

  test("packed MMR stops cleanly when the pool is smaller than k") {
    import spark.implicits._
    // 3 vectors: query 0 has only 2 candidates, k = 5 — both forms must
    // emit exactly 2 ranks, no null picks
    val tiny = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)), (2L, Array(0.0, 1.0)),
    ).toDF("vec_id", "embedding")
    val packed = CurationOps.mmrRerankPacked(tiny, col("vec_id") === 0, poolK = 5, k = 5, lamX10 = 7)
      .orderBy("rank").collect()
    val loop = CurationOps.mmrRerank(tiny, col("vec_id") === 0, poolK = 5, k = 5, lamX10 = 7)
      .orderBy("rank").collect()
    assert(packed.map(_.toString).toSeq == loop.map(_.toString).toSeq)
    assert(packed.length == 2 && packed.forall(r => !r.anyNull))
  }

  // ---- piiScrub -------------------------------------------------------------

  test("piiScrub: patterns chain in order, counts measured on the original text") {
    import spark.implicits._
    val docs = Seq((1L, "foo bar baz"), (2L, "nothing here")).toDF("doc_id", "text")
    // p1 rewrites foo→bar; p2 then sees BOTH bars (the sed-chain contract),
    // while n_bar counts only the ORIGINAL one.
    val out = CurationOps.piiScrub(docs, Seq(
        ("foo", "\\bfoo\\b", "bar"), ("bar", "\\bbar\\b", "<X>")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_foo") == 1L)
    assert(out(1L).getAs[Long]("n_bar") == 1L)
    assert(out(1L).getAs[Long]("total_redactions") == 2L)
    assert(out(1L).getAs[String]("scrubbed_text") == "<X> <X> baz")
    assert(out(2L).getAs[Long]("total_redactions") == 0L)
    assert(out(2L).getAs[String]("scrubbed_text") == "nothing here")
  }

  test("piiScrub: word boundaries do not fire inside tokens") {
    import spark.implicits._
    val docs = Seq((1L, "customer customers accustomed customer")).toDF("doc_id", "text")
    val out = CurationOps.piiScrub(docs, Seq(("c", "\\bcustomer\\b", "<E>")))
      .collect().head
    assert(out.getAs[Long]("n_c") == 2L)
    assert(out.getAs[String]("scrubbed_text") == "<E> customers accustomed <E>")
  }

  // ---- intraDocDedup --------------------------------------------------------

  test("intraDocDedup: first occurrence survives, later repeats drop, order kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d a b e f"), // [a b][c d][a b][e f] → drop the 2nd [a b]
      (2L, "a b a b a"),       // [a b][a b][a] → short tail [a] is distinct
      (3L, "x y z w"),         // no repeats
    ).toDF("doc_id", "text")
    val out = CurationOps.intraDocDedup(docs, segTokens = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("clean_text") == "a b c d e f")
    assert(out(1L).getAs[Long]("n_tokens") == 8L)
    assert(out(1L).getAs[Long]("kept_tokens") == 6L)
    assert(out(1L).getAs[Long]("dropped_segments") == 1L)
    assert(out(1L).getAs[Double]("dropped_frac") == 0.25)
    assert(out(2L).getAs[String]("clean_text") == "a b a")
    assert(out(2L).getAs[Long]("dropped_segments") == 1L)
    assert(out(3L).getAs[String]("clean_text") == "x y z w")
    assert(out(3L).getAs[Long]("dropped_segments") == 0L)
  }

  test("intraDocDedup plans ZERO exchanges (per-doc semantics stay map-side)") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val p = CurationOps.intraDocDedup(docs, 2).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
  }

  test("intraDocDedup: native kernel is bit-identical to the HOF spec form on the corpus") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    for (st <- Seq(1, 2, 6))
      assert(rows(CurationOps.intraDocDedup(docs, st))
        == rows(CurationOps.intraDocDedupSpec(docs, st)), s"segTokens=$st")
  }

  test("segmentRelation + chunk: native kernels are bit-identical to the HOF spec forms") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.toIndexedSeq.map(col): _*).collect().map(_.toString).toSeq
    for (st <- Seq(2, 6))
      assert(rows(CurationOps.segmentRelation(docs, st))
        == rows(CurationOps.segmentRelationSpec(docs, st)), s"segTokens=$st")
    assert(rows(CurationOps.segmentRelation(docs, 6, carry = Seq("lang")))
      == rows(CurationOps.segmentRelationSpec(docs, 6, carry = Seq("lang"))))
    for ((w, st) <- Seq((32, 24), (4, 4), (5, 2)))
      assert(rows(CurationOps.chunk(docs, w, st))
        == rows(CurationOps.chunkSpec(docs, w, st)), s"window=$w stride=$st")
    // framing edge cases: double spaces (empty tokens), sub-window doc
    import spark.implicits._
    val edge = Seq((1L, "a"), (2L, "a  b a  b"), (3L, "x y z")).toDF("doc_id", "text")
    assert(rows(CurationOps.segmentRelation(edge, 2))
      == rows(CurationOps.segmentRelationSpec(edge, 2)))
    assert(rows(CurationOps.chunk(edge, 2, 2)) == rows(CurationOps.chunkSpec(edge, 2, 2)))
  }

  test("intraDocDedup: spec-form equality holds on framing edge cases") {
    import spark.implicits._
    // empty-ish text, double spaces (empty tokens), doc shorter than a segment
    val docs = Seq((1L, "a"), (2L, "a  b a  b"), (3L, "x y")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    for (st <- Seq(1, 2, 3))
      assert(rows(CurationOps.intraDocDedup(docs, st))
        == rows(CurationOps.intraDocDedupSpec(docs, st)), s"segTokens=$st")
  }

  // ---- q137 DSIR importance weights ---------------------------------------

  private[graft] val dsirDocs = Seq(
    // target slice: vocabulary A
    (1L, "alpha beta gamma alpha beta", "en"),
    (2L, "beta gamma alpha beta gamma", "en"),
    (3L, "alpha beta alpha beta alpha", "en"),
    // raw-only slice: vocabulary B
    (4L, "rot grun blau rot grun", "de"),
    (5L, "grun blau rot grun blau", "de"),
    // held-out: one doc per vocabulary
    (6L, "alpha beta gamma alpha", "zz"),
    (7L, "rot grun blau rot", "zz"),
    // degenerate: single token (0 bigrams), empty-token framing
    (8L, "solo", "zz"),
  )

  test("dsirWeights: target-looking doc outscores raw-looking doc; 0-bigram doc is 0") {
    import spark.implicits._
    val df = dsirDocs.toDF("doc_id", "text", "lang")
    val out = CurationOps.dsirWeights(df, col("lang") === "en", 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(6)._2 > out(7)._2,
      s"target-vocab held-out ${out(6)._2} should beat raw-vocab ${out(7)._2}")
    assert(out(8) === (0L, 0.0))
    assert(out(6)._1 === 3L && out(7)._1 === 3L) // 4 tokens -> 3 bigrams
  }

  test("dsirWeights: exact Scala replay of the smoothed log-ratio model") {
    import spark.implicits._
    val P = 1000000007L
    val B = 64
    def tokHash(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % P)
    def buckets(text: String): Seq[Int] = {
      val th = text.split(" ", -1).toSeq.map(tokHash)
      th.sliding(2).filter(_.length == 2)
        .map(p => (((p(0) * 31 + p(1)) % P) % B).toInt).toSeq
    }
    val docs = dsirDocs
    val tgt = docs.filter(_._3 == "en").flatMap(d => buckets(d._2))
    val raw = docs.flatMap(d => buckets(d._2))
    val ct = tgt.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = raw.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (ctt, crt) = (tgt.size.toLong, raw.size.toLong)
    def lrFp(f: Int): Long = {
      val v = (math.log((ct.getOrElse(f, 0L) + 1.0) / (ctt + B)) -
        math.log((cr.getOrElse(f, 0L) + 1.0) / (crt + B))) * 1e9
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    def logw(text: String): Double = {
      val s = buckets(text).map(lrFp).sum
      BigDecimal(s / 1e9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val out = CurationOps.dsirWeights(docs.toDF("doc_id", "text", "lang"),
        col("lang") === "en", B)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    docs.foreach { d =>
      assert(out(d._1) === logw(d._2), s"doc ${d._1}")
    }
  }

  test("dsirWeights: native shingle kernel is bit-equal to the HOF spec form") {
    import spark.implicits._
    // framing-heavy docs: double spaces (empty tokens), single token,
    // empty-ish text — the native kernel must walk tokens exactly like
    // split(text, ' ')
    val docs = (dsirDocs.map(d => (d._1, d._2)) ++ Seq(
      (100L, "a  b a  b"), (101L, "x"), (102L, "a "), (103L, " a"),
    )).toDF("doc_id", "text")
    val B = 64
    val hof = docs
      .selectExpr("doc_id", s"${graft.text.TextOps.tokenHashArrayExpr} AS __th")
      .selectExpr("doc_id", s"${CurationOps.dsirBucketsExpr(B)} AS f")
    val native = docs.select(col("doc_id"),
      transform(graft.functions.TextExprs.shingle_hashes(col("text"), 2),
        h => h % B).as("f"))
    val a = hof.orderBy("doc_id").collect().map(_.toString).toSeq
    val b = native.orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("dsirWeights: partition-invariant") {
    import spark.implicits._
    val df = dsirDocs.toDF("doc_id", "text", "lang")
    val a = CurationOps.dsirWeights(df, col("lang") === "en", 64)
      .orderBy("doc_id").collect().toSeq
    val b = CurationOps.dsirWeights(df.repartition(5), col("lang") === "en", 64)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("q179 resample: dominant weights always selected; draw is partition-invariant") {
    import spark.implicits._
    // Gumbel noise from u ∈ (1/(P+1), P/(P+1)) is bounded in ≈(−3.04, 20.7),
    // so a ±200 logw gap makes the top-3 deterministic regardless of noise
    val w = Seq(
      (1L, 10L, 200.0), (2L, 10L, 200.0), (3L, 10L, 200.0),
      (4L, 10L, -200.0), (5L, 10L, -200.0), (6L, 10L, -200.0))
      .toDF("doc_id", "n_bigrams", "logw")
    val top = graft.queries.Curation.dsirResampleCore(w, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(top.map(_._2).toSet === Set(1L, 2L, 3L), s"selected ${top.toSeq}")
    assert(top.map(_._1).toSeq === Seq(1L, 2L, 3L), "ranks must be 1..n")
    assert(top.forall(_._3 > 150.0), "priorities must sit near the logw mass")
    // pure row-function noise: any partitioning draws the identical sample
    val again = graft.queries.Curation.dsirResampleCore(w.repartition(7), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(again.toSeq === top.toSeq)
  }
}
