package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import graft.util.Tables._
import graft.util.Snapshots
import graft.text.TextOps
import graft.dedup.DedupOps

/** Training-data text pipeline queries over the `documents` table: dedup
  * (exact / MinHash-LSH / SimHash / exact Jaccard), quality stats, lang-ID,
  * fingerprinting. Every hash in checked output is the radix-31 polynomial
  * mod 1e9+7 (TextOps.polyHash) so the DuckDB oracle reproduces it exactly
  * via list_reduce — see the shared SQL fragments below.
  */
object TextDedup extends QueryModule {

  private val P = TextOps.P

  /** DuckDB: polynomial char-fold hash of expression `e`. */
  private def duckHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), c -> CAST(ord(c) AS BIGINT))), (acc, x) -> (acc * 31 + x) % $P)"

  /** DuckDB CTEs: documents → distinct 3-shingle hashes per doc, mirroring
    * TextOps' two-level hash (token char-folds, then a fold over each
    * 3-slice of token hashes). */
  private val duckShingles =
    s"""toks AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + 3)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks, unnest(CASE WHEN len(th) >= 3 THEN range(len(th) - 2) ELSE [] END) AS r(i)
       |)""".stripMargin

  // ---- q20: exact dedup --------------------------------------------------

  def exactDedup(s: SparkSession, d: String): DataFrame =
    DedupOps.exactDedup(documents(s, d)).orderBy("keep_id")

  private val exactDedupSql =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text
      |ORDER BY keep_id""".stripMargin

  // ---- q21: MinHash + LSH near-dup pairs ---------------------------------

  def minhashPairs(s: SparkSession, d: String): DataFrame =
    DedupOps
      .minhashDupPairs(documents(s, d), shingleK = 3, numHashes = 16,
        rowsPerBand = 4, threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  /** Shared CTE chain ending in `com`/`sz` — the MinHash pair machinery,
    * reused by q21 (pairs) and q66 (clusters over those pairs). */
  private val minhashCtes =
    s"""$duckShingles,
       |mh AS (
       |  SELECT doc_id, r.j AS j, min(((654435747*(r.j + 1) % 1000000007) * h + 1779033703*(2*r.j + 1) % 1000000007) % $P) AS mh
       |  FROM sh, unnest(range(16)) AS r(j)
       |  GROUP BY doc_id, r.j
       |),
       |bands AS (
       |  SELECT doc_id, j // 4 AS band,
       |         sum(mh * ([1,31,961,29791])[(j % 4) + 1]) AS bkey
       |  FROM mh GROUP BY doc_id, j // 4
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |   AND a.doc_id < b.doc_id
       |),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN sh s1 ON s1.doc_id = c.doc_a
       |  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.h = s1.h
       |  GROUP BY c.doc_a, c.doc_b
       |)""".stripMargin

  private val minhashPairsSql =
    s"""WITH $minhashCtes
       |SELECT m.doc_a, m.doc_b,
       |  round(CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common), 6) AS jaccard
       |FROM com m
       |JOIN sz za ON za.doc_id = m.doc_a
       |JOIN sz zb ON zb.doc_id = m.doc_b
       |WHERE CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q83: incremental dedup admission ----------------------------------

  /** One LSH side (toks/sh/mh/bands CTE chain) over relation `rel`, with
    * `_$side`-suffixed names — the [[duckShingles]] + minhash machinery
    * parameterized so the incremental oracle can build it for the corpus
    * and the increment separately. */
  private def duckSideCtes(side: String, rel: String): String =
    s"""toks_$side AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM $rel
       |),
       |sh_$side AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + 3)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks_$side, unnest(CASE WHEN len(th) >= 3 THEN range(len(th) - 2) ELSE [] END) AS r(i)
       |),
       |mh_$side AS (
       |  SELECT doc_id, r.j AS j, min(((654435747*(r.j + 1) % 1000000007) * h + 1779033703*(2*r.j + 1) % 1000000007) % $P) AS mh
       |  FROM sh_$side, unnest(range(16)) AS r(j)
       |  GROUP BY doc_id, r.j
       |),
       |bands_$side AS (
       |  SELECT doc_id, j // 4 AS band,
       |         sum(mh * ([1,31,961,29791])[(j % 4) + 1]) AS bkey
       |  FROM mh_$side GROUP BY doc_id, j // 4
       |)""".stripMargin

  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    DedupOps
      .incrementalDedup(
        corpus = docs.filter(col("doc_id") % 10 >= 2),
        increment = docs.filter(col("doc_id") % 10 < 2),
        shingleK = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .orderBy("doc_id")
  }

  private val incrementalDedupSql =
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 2),
       |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 2),
       |${duckSideCtes("c", "corp")},
       |${duckSideCtes("i", "inc")},
       |exact AS (
       |  SELECT DISTINCT i.doc_id FROM inc i JOIN corp c ON c.text = i.text
       |),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corp_id
       |  FROM bands_i i JOIN bands_c c
       |    ON i.band = c.band AND i.bkey = c.bkey
       |),
       |sz_i AS (SELECT doc_id, count(*) AS n FROM sh_i GROUP BY doc_id),
       |sz_c AS (SELECT doc_id, count(*) AS n FROM sh_c GROUP BY doc_id),
       |com AS (
       |  SELECT cand.inc_id, cand.corp_id, count(*) AS common
       |  FROM cand
       |  JOIN sh_i s1 ON s1.doc_id = cand.inc_id
       |  JOIN sh_c s2 ON s2.doc_id = cand.corp_id AND s2.h = s1.h
       |  GROUP BY cand.inc_id, cand.corp_id
       |),
       |near AS (
       |  SELECT com.inc_id, min(com.corp_id) AS near_dup_of
       |  FROM com
       |  JOIN sz_i zi ON zi.doc_id = com.inc_id
       |  JOIN sz_c zc ON zc.doc_id = com.corp_id
       |  WHERE CAST(com.common AS DOUBLE) / (zi.n + zc.n - com.common) >= 0.5
       |  GROUP BY com.inc_id
       |)
       |SELECT i.doc_id,
       |  (e.doc_id IS NOT NULL) AS exact_dup,
       |  near.near_dup_of,
       |  (e.doc_id IS NULL AND near.near_dup_of IS NULL) AS keep
       |FROM inc i
       |LEFT JOIN exact e ON e.doc_id = i.doc_id
       |LEFT JOIN near ON near.inc_id = i.doc_id
       |ORDER BY i.doc_id""".stripMargin

  // ---- q90: standing-index incremental dedup -----------------------------

  /** Same admission verdicts as q83 — same corpus/increment split, same
    * oracle SQL — but probed against the PREBUILT standing band index
    * (DedupOps.buildBandIndex): the production per-arrival shape where the
    * corpus is shingled/banded once and every batch pays only its own
    * probe. The build runs once per session (Bench's warmup pass absorbs
    * it), so the timed number IS the per-batch probe cost. */
  def standingDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val name = s"graft_dedup_idx_$tag"
    // the FULL dataset path is verified against _meta, not just the name's
    // 32-bit tag: a hash collision between dataset paths (or a cleaned
    // tmpdir under a long-lived session) must rebuild, not silently probe
    // a wrong-scale index
    if (!DedupOps.bandIndexMatches(s, name, d))
      DedupOps.buildBandIndex(s, docs.filter(col("doc_id") % 10 >= 2), name,
        shingleK = 3, numHashes = 16, rowsPerBand = 4,
        location = s"${sys.props("java.io.tmpdir")}/graft_dedup_idx/$tag",
        datasetTag = d)
    DedupOps
      .probeBandIndex(s, docs.filter(col("doc_id") % 10 < 2), name,
        threshold = 0.5)
      .orderBy("doc_id")
  }

  // ---- q107: incremental cluster maintenance -----------------------------

  /** q90 ∘ q66: the standing corpus carries cluster labels and a band
    * index; the arriving batch's new edges (probe pairs + batch-internal
    * pairs) update labels INCREMENTALLY — connected components run on the
    * batch-plus-touched-representatives graph only, never the corpus. The
    * oracle is q66's union re-run (the recursive-CTE clusters over ALL
    * documents): the hash match IS the proof that incremental ≡ full.
    * Own index name/location (not q90's) so the two queries can build
    * concurrently under Verify's thread pool.
    *
    * The standing LABEL relation persists alongside the band index
    * (written before the index build, whose meta-last ordering gates
    * both): the per-call cost is probe + batch CC + remap against TWO
    * standing stores — the operator's production shape (and the one
    * `StreamOps.streamingIncrementalClusters` maintains per batch) —
    * not an in-query re-derivation of the corpus clustering, which the
    * r11 plan audit correctly called fixture cost. */
  def incrementalClustersQuery(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") % 10 >= 2)
    val inc = docs.filter(col("doc_id") % 10 < 2)
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val name = s"graft_dedup_cidx_$tag"
    val location = s"${sys.props("java.io.tmpdir")}/graft_dedup_cidx/$tag"
    // the guard covers BOTH standing stores: a matched band index whose
    // labels parquet is missing or partial (cleaned tmpdir, or an index
    // persisted by pre-labels code in a long-lived session) must rebuild,
    // not throw on the unguarded read below — _SUCCESS is written last,
    // so its presence certifies a complete labels dump
    val labelsOk = try {
      val p = new org.apache.hadoop.fs.Path(s"$location/labels/_SUCCESS")
      p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
    } catch { case _: Throwable => false }
    if (!DedupOps.bandIndexMatches(s, name, d) || !labelsOk) {
      DedupOps
        .dedupClusters(corpus,
          DedupOps.minhashDupPairs(corpus, shingleK = 3, numHashes = 16,
            rowsPerBand = 4, threshold = 0.5))
        .select("doc_id", "cluster")
        .write.mode("overwrite").parquet(s"$location/labels")
      DedupOps.buildBandIndex(s, corpus, name,
        shingleK = 3, numHashes = 16, rowsPerBand = 4,
        location = location, datasetTag = d)
    }
    val standing = Snapshots.parquet(s, s"$location/labels")
    DedupOps.incrementalClusters(s, standing, inc, name, threshold = 0.5)
      .orderBy("doc_id")
  }

  // ---- q95: end-to-end corpus assembly -----------------------------------

  /** The FULL training-data pipeline as ONE query — what a user of the
    * engine actually runs nightly: eval slice held out → exact dedup
    * (min-id survivor per text) → near dedup (drop the higher id of every
    * verified MinHash pair, q21's relation) → benchmark decontamination
    * (drop any doc sharing a 5-gram with the eval slice, q68's flag) →
    * quality gate (≥ 15 tokens) → deterministic 900/50/50 hash split
    * (q57's salted slot) → fixed-budget context packing per (split, lang)
    * stream. One manifest row per surviving document:
    * (doc_id, lang, split, tokens, pack_id, pack_offset).
    *
    * Every stage is the already-checked operator; the composition itself
    * is what this query locks (stage order, survivor semantics, and the
    * pack layout over the FILTERED corpus — packing before filtering
    * would leave holes in every window). */
  def corpusAssembly(s: SparkSession, d: String): DataFrame =
    assemble(documents(s, d), mediaGate = false)

  /** q120: q95's nightly pipeline with the MEDIA gate composed in — after
    * text exact dedup, text near dedup, and decontamination, a document is
    * also dropped when its binary payload has a perceptual near-dup
    * (phash64 Hamming ≤ 3, q114's pair relation) with a lower id among the
    * text survivors — the q115 cross-modal verdict acting inside the
    * end-to-end manifest, so a sample ships only if BOTH modalities are
    * novel. Gate placement matters and is what the oracle locks: the
    * perceptual pairs are computed over the text-survivor set (pairs whose
    * lower endpoint was already text-dropped must not suppress the
    * survivor), and packing runs after ALL gates. MultimodalAssemblySpec
    * pins a document dropped ONLY by its payload verdict. */
  def multimodalAssembly(s: SparkSession, d: String): DataFrame =
    assemble(documents(s, d), mediaGate = true)

  /** q128: the FULL pipeline — q120's gates plus boilerplate-aware token
    * accounting: the budget/packing token count is the doc's SURVIVING
    * count under the corpus-wide segment-frequency verdict (computed over
    * the gate survivors, the same placement discipline as the media
    * gate), and a doc whose clean count falls under the length floor is
    * dropped even though its raw count passed. Counts flow through the
    * hash-only path (no text-carrying exchange added — see
    * CurationOps.boilerplateKeptTokens). */
  def cleanAssembly(s: SparkSession, d: String): DataFrame =
    assemble(documents(s, d), mediaGate = true, boilGate = true)

  private[graft] def assemble(docs: DataFrame, mediaGate: Boolean,
      boilGate: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val base = docs.filter(col("doc_id") % 97 =!= 0)
    val exactKeep = base.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val k1 = base.join(exactKeep, Seq("doc_id"), "left_semi")
    val nearDropped = DedupOps
      .minhashDupPairs(k1, shingleK = 3, numHashes = 16, rowsPerBand = 4,
        threshold = 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    // drop lists are id sets, orders of magnitude under the corpus (the
    // near-dup fraction and the contamination fraction): broadcast them
    // — Catalyst can't size post-aggregation relations and would SMJ,
    // shuffling the full corpus per gate. (At an extreme dup rate the
    // fallback is the plain anti-join over a doc_id-bucketed corpus.)
    val k2 = k1.join(broadcast(nearDropped), Seq("doc_id"), "left_anti")
    val contaminated = DedupOps
      .contaminationFlags(k2, evalDocs, shingleK = 5)
      .select("doc_id")
    val k3 = k2.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // media gate (q120): perceptual near-dup drop over the text-survivor
    // payloads — the pair relation moves 8-byte fingerprints only, and the
    // drop list is dup-fraction-sized → broadcast, like the text gates
    val k4 = if (!mediaGate) k3 else {
      val media = k3.select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      val mediaDropped = graft.multimodal.PhashOps.pairRelation(media)
        .select(col("doc_b").as("doc_id")).distinct()
      k3.join(broadcast(mediaDropped), Seq("doc_id"), "left_anti")
    }
    val sized =
      if (!boilGate)
        k4.withColumn("tokens", size(split(col("text"), " ")).cast("long"))
          .filter(col("tokens") >= 15)
      else {
        // boilerplate-aware accounting: budget on surviving tokens only.
        // The frequency verdict needs TWO passes over the survivors
        // (count per segment hash, then re-walk the segments against the
        // verdict) — materialize the survivor relation once instead of
        // re-running the dedup/contam/media gate chain per pass (the
        // persist-between-stages discipline a production nightly uses;
        // measured 14.8 → 11 s at 10×-sf0.1, the residual being the
        // two segment walks over the checkpointed survivors)
        val survivors = k4.select("doc_id", "lang", "text").localCheckpoint()
        graft.text.CurationOps.boilerplateKeptTokens(
            survivors, segTokens = 6, minDocs = 3, carry = Seq("lang"))
          .filter(col("tokens") >= 15)
      }
    val splitDocs = Training.hashSplit(sized, "doc_id", "graft-v1",
      Seq("train" -> 900, "val" -> 50, "test" -> 50))
    val w = Window.partitionBy("split", "lang").orderBy("doc_id")
    splitDocs
      .withColumn("start", sum(col("tokens")).over(w) - col("tokens"))
      .select(col("doc_id"), col("lang"), col("split"), col("tokens"),
        expr("start div 512").as("pack_id"),
        (col("start") % 512).as("pack_offset"))
      .orderBy("doc_id")
  }

  private val corpusAssemblySql = corpusAssemblySqlWith(mediaGate = false)

  /** One SQL for q95 (text-only) and q120 (media gate composed in): the
    * gate adds the phash64 CTE chain over the k3 survivors (the kernel
    * literal + per-doc fingerprint replay, Multimodal's oracle machinery)
    * and re-points the quality filter at the media-surviving set. */
  private def corpusAssemblySqlWith(mediaGate: Boolean,
      boilGate: Boolean = false): String = {
    val kern = if (mediaGate) s"${Multimodal.kernCte},\n" else ""
    val gate = if (!mediaGate) "" else
      s""",
         |${Multimodal.phashSideCtes("p", "k3")},
         |candp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, a.ph AS pha, b.doc_id AS doc_b, b.ph AS phb
         |  FROM bands_p a JOIN bands_p b ON a.r = b.r AND a.bv = b.bv AND a.doc_id < b.doc_id
         |),
         |mediad AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM candp
         |  WHERE bit_count(xor(pha, phb)) <= ${graft.multimodal.PhashOps.Tau}
         |),
         |k4 AS (
         |  SELECT k3.* FROM k3 LEFT JOIN mediad md ON md.doc_id = k3.doc_id
         |  WHERE md.doc_id IS NULL
         |)""".stripMargin
    val survivors = if (mediaGate) "k4" else "k3"
    // boilerplate-aware accounting (q128): tokens = the doc's surviving
    // count under the segment-frequency verdict over the gate survivors
    val qfCte =
      if (!boilGate)
        s"""qf AS (
           |  SELECT doc_id, lang,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           |  FROM $survivors WHERE len(string_split(text, ' ')) >= 15
           |)""".stripMargin
      else
        s"""tb AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $survivors),
           |sb AS (
           |  SELECT doc_id,
           |    list_slice(toks, CAST(u.i AS BIGINT) * 6 + 1, (CAST(u.i AS BIGINT) + 1) * 6) AS seg
           |  FROM tb, unnest(range(CAST(ceil(len(toks) / 6.0) AS BIGINT))) u(i)
           |),
           |hb AS (
           |  SELECT doc_id, len(seg) AS stok,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(seg, tok -> ${duckHash("tok")})), (acc, h2) -> (acc * 31 + h2) % $P) AS h
           |  FROM sb
           |),
           |fb AS (SELECT h FROM hb GROUP BY h HAVING count(DISTINCT doc_id) >= 3),
           |keptb AS (
           |  SELECT doc_id,
           |    CAST(sum(CASE WHEN fb.h IS NULL THEN stok ELSE 0 END) AS BIGINT) AS tokens
           |  FROM hb LEFT JOIN fb ON fb.h = hb.h GROUP BY doc_id
           |),
           |qf AS (
           |  SELECT s.doc_id, s.lang, k.tokens
           |  FROM $survivors s JOIN keptb k ON k.doc_id = s.doc_id
           |  WHERE k.tokens >= 15
           |)""".stripMargin
    s"""WITH ${kern}base AS (
       |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0
       |),
       |exk AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text),
       |k1 AS (SELECT b.doc_id, b.lang, b.text FROM base b JOIN exk USING (doc_id)),
       |${duckSideCtes("m", "k1")},
       |candm AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_m a JOIN bands_m b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |szm AS (SELECT doc_id, count(*) AS n FROM sh_m GROUP BY doc_id),
       |comm AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM candm c
       |  JOIN sh_m s1 ON s1.doc_id = c.doc_a
       |  JOIN sh_m s2 ON s2.doc_id = c.doc_b AND s2.h = s1.h
       |  GROUP BY c.doc_a, c.doc_b
       |),
       |neard AS (
       |  SELECT DISTINCT m.doc_b AS doc_id
       |  FROM comm m
       |  JOIN szm za ON za.doc_id = m.doc_a
       |  JOIN szm zb ON zb.doc_id = m.doc_b
       |  WHERE CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common) >= 0.5
       |),
       |k2 AS (
       |  SELECT k1.* FROM k1 LEFT JOIN neard n ON n.doc_id = k1.doc_id
       |  WHERE n.doc_id IS NULL
       |),
       |toks5 AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM k2
       |),
       |sh5 AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + 5)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks5, unnest(CASE WHEN len(th) >= 5 THEN range(len(th) - 4) ELSE [] END) AS r(i)
       |),
       |toksev AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents WHERE doc_id % 97 = 0
       |),
       |ev AS (
       |  SELECT DISTINCT
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + 5)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toksev, unnest(CASE WHEN len(th) >= 5 THEN range(len(th) - 4) ELSE [] END) AS r(i)
       |),
       |contam AS (SELECT DISTINCT s.doc_id FROM sh5 s JOIN ev USING (h)),
       |k3 AS (
       |  SELECT k2.* FROM k2 LEFT JOIN contam c ON c.doc_id = k2.doc_id
       |  WHERE c.doc_id IS NULL
       |)$gate,
       |$qfCte,
       |sl AS (
       |  SELECT doc_id, lang, tokens,
       |    CASE WHEN slot < 900 THEN 'train'
       |         WHEN slot < 950 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (
       |    SELECT *,
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split('graft-v1:' || CAST(doc_id AS VARCHAR), ''),
       |          c -> CAST(ord(c) AS BIGINT))),
       |        (acc, x) -> (acc * 31 + x) % 1000000007) * 2654435761 % 1000 AS slot
       |    FROM qf)
       |),
       |cum AS (
       |  SELECT doc_id, lang, split, tokens,
       |    CAST(sum(tokens) OVER (PARTITION BY split, lang ORDER BY doc_id)
       |      - tokens AS BIGINT) AS start
       |  FROM sl
       |)
       |SELECT doc_id, lang, split, tokens,
       |  start // 512 AS pack_id, start % 512 AS pack_offset
       |FROM cum
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q22: exact all-pairs n-gram Jaccard -------------------------------

  /** maxDf = 64: the guarded inverted-index path is the DEFAULT — the
    * uncapped self-join is Σ df² and dies on boilerplate shingles at scale.
    * The oracle stays the UNPRUNED SQL, so the hash match proves the cap
    * loses no pair at this corpus (same contract as q59's prefix filter). */
  def jaccardPairs(s: SparkSession, d: String): DataFrame =
    DedupOps
      .jaccardDupPairs(documents(s, d), shingleK = 3, threshold = 0.7, maxDf = 64L)
      .orderBy("doc_a", "doc_b")

  /** Shared inverted-index exact-Jaccard oracle (q22 and q59 — the q59
    * plan prunes candidates with the AllPairs prefix filter, but its
    * oracle is deliberately this UNPRUNED form: a hash-match proves the
    * pruning lost no pair). */
  private def invertedJaccardSql(threshold: String): String =
    s"""WITH $duckShingles,
       |cand AS (
       |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
       |  FROM sh s1 JOIN sh s2 ON s1.h = s2.h AND s1.doc_id < s2.doc_id
       |),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN sh s1 ON s1.doc_id = c.doc_a
       |  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.h = s1.h
       |  GROUP BY c.doc_a, c.doc_b
       |)
       |SELECT m.doc_a, m.doc_b,
       |  round(CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common), 6) AS jaccard
       |FROM com m
       |JOIN sz za ON za.doc_id = m.doc_a
       |JOIN sz zb ON zb.doc_id = m.doc_b
       |WHERE CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private val jaccardPairsSql = invertedJaccardSql("0.7")

  // ---- q59: prefix-filtered exact Jaccard (the q22 scale path) -----------

  /** Same semantics as q22 at threshold 0.6, via AllPairs prefix filtering
    * (only |x|−⌈t·|x|⌉+1 shingles per doc are indexed; scores still use
    * full sets). Hash-order prefix (`rareFirst = false`): the prefix is a
    * pure projection — no df pass — which wins at this corpus's flat df
    * distribution (max df ≈ 25); rare-first is the web-scale choice. The
    * oracle is the plain inverted-index SQL — passing it proves the
    * pruned plan loses no pair. */
  def jaccardPrefix(s: SparkSession, d: String): DataFrame =
    DedupOps
      .jaccardDupPairsPrefix(documents(s, d), shingleK = 3, thresholdMill = 600,
        rareFirst = false)
      .orderBy("doc_a", "doc_b")

  private val jaccardPrefixSql = invertedJaccardSql("0.6")

  // ---- q23: SimHash fingerprints -----------------------------------------

  def simhashQ(s: SparkSession, d: String): DataFrame =
    DedupOps.simhash(documents(s, d)).orderBy("doc_id")

  private val simhashSql =
    s"""WITH tok AS (
       |  SELECT doc_id, ${duckHash("u.t")} AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), unnest(w) AS u(t)
       |),
       |bits AS (
       |  SELECT doc_id, r.i AS i, sum(2 * ((h >> r.i) & 1) - 1) AS s
       |  FROM tok, unnest(range(32)) AS r(i)
       |  GROUP BY doc_id, r.i
       |)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q24: quality stats ------------------------------------------------

  def textStats(s: SparkSession, d: String): DataFrame =
    TextOps.qualityStats(documents(s, d), Seq("the", "a")).orderBy("doc_id")

  private val textStatsSql =
    """WITH tok AS (
      |  SELECT doc_id, u.t AS tok
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), unnest(w) AS u(t)
      |),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    count(DISTINCT tok) AS n_distinct,
      |    sum(CAST(length(tok) AS BIGINT)) AS sumlen,
      |    sum(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS nstop
      |  FROM tok GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.lang,
      |  CAST(length(d.text) AS BIGINT) AS n_chars,
      |  a.n_tokens, a.n_distinct,
      |  round(CAST(a.n_distinct AS DOUBLE) / a.n_tokens, 6) AS type_token_ratio,
      |  round(CAST(a.sumlen AS DOUBLE) / a.n_tokens, 6) AS mean_token_len,
      |  round(CAST(a.nstop AS DOUBLE) / a.n_tokens, 6) AS stopword_ratio,
      |  round(CAST(length(regexp_replace(d.text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(d.text), 6) AS punct_ratio
      |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---- q25: language-ID confusion ----------------------------------------

  private val langMarkers = Map(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "la", "les"),
    "es" -> Seq("el", "los", "una"),
  )

  def langId(s: SparkSession, d: String): DataFrame =
    TextOps.langIdConfusion(documents(s, d), langMarkers).orderBy("lang", "predicted")

  private val langIdSql =
    """WITH tok AS (
      |  SELECT doc_id, lang, u.t AS tok
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents), unnest(w) AS u(t)
      |),
      |sc AS (
      |  SELECT doc_id, lang,
      |    sum(CASE WHEN tok IN ('the', 'a', 'of') THEN 1 ELSE 0 END) AS s_en,
      |    sum(CASE WHEN tok IN ('der', 'die', 'das') THEN 1 ELSE 0 END) AS s_de,
      |    sum(CASE WHEN tok IN ('le', 'la', 'les') THEN 1 ELSE 0 END) AS s_fr,
      |    sum(CASE WHEN tok IN ('el', 'los', 'una') THEN 1 ELSE 0 END) AS s_es
      |  FROM tok GROUP BY doc_id, lang
      |),
      |pred AS (
      |  SELECT lang,
      |    CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
      |      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |      WHEN s_fr >= s_es THEN 'fr'
      |      ELSE 'es' END AS predicted
      |  FROM sc
      |)
      |SELECT lang, predicted, count(*) AS n
      |FROM pred GROUP BY lang, predicted
      |ORDER BY lang, predicted""".stripMargin

  // ---- q26: document fingerprints ----------------------------------------

  def fingerprint(s: SparkSession, d: String): DataFrame =
    TextOps.fingerprints(documents(s, d)).orderBy("doc_id")

  private val fingerprintSql =
    s"""SELECT doc_id,
       |  ${duckHash("text")} AS full_fp,
       |  CASE WHEN length(text) >= 8 THEN
       |    list_min(list_transform(range(1, length(text) - 6),
       |      i -> ${duckHash("substring(text, i, 8)")}))
       |  ELSE ${duckHash("text")} END AS min8_fp
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---- q54: token counting — whitespace + BPE-ish regex ------------------

  /** Sub-word-ish token counts: whitespace tokens plus a BPE-style regex
    * segmentation (letter runs | digit runs | punct runs — lookaround-free
    * so Java regex and DuckDB's RE2 agree), and the chars-per-token ratio
    * used for training-data length budgeting. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
          .cast("long").as("bpeish_tokens"),
        round(length(col("text")).cast("double") /
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)")), 6)
          .as("chars_per_token"),
      )
      .orderBy("doc_id")

  private val tokenCountsSql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS BIGINT) AS bpeish_tokens,
      |  round(CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')), 6) AS chars_per_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- q67: Gopher/C4-style repetition quality signals -------------------
  // Duplicate-gram and top-gram fractions from one-pass native gram_stats
  // (word unigrams + bigrams over the shared radix-31 token hashes). Both
  // engines count gram HASHES, so even a hash collision (merging two
  // distinct grams) is mirrored exactly.

  def repetitionStats(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextExprs
    documents(s, d)
      .select(col("doc_id"),
        TextExprs.gram_stats(col("text"), 1).as("g1"),
        TextExprs.gram_stats(col("text"), 2).as("g2"))
      .select(
        col("doc_id"),
        col("g1.total").as("tokens"),
        col("g2.total").as("bigrams"),
        round(when(col("g1.total") > 0,
          col("g1.top_freq").cast("double") / col("g1.total")).otherwise(0.0), 6)
          .as("top_token_frac"),
        round(when(col("g2.total") > 0,
          lit(1.0) - col("g2.uniq").cast("double") / col("g2.total")).otherwise(0.0), 6)
          .as("dup_2gram_frac"),
        round(when(col("g2.total") > 0,
          col("g2.top_freq").cast("double") / col("g2.total")).otherwise(0.0), 6)
          .as("top_2gram_frac"),
      )
      .orderBy("doc_id")
  }

  private val repetitionStatsSql =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |c1 AS (
       |  SELECT doc_id, u.h AS g, count(*) AS c
       |  FROM toks, unnest(th) AS u(h) GROUP BY doc_id, u.h
       |),
       |s1 AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total, max(c) AS top
       |  FROM c1 GROUP BY doc_id
       |),
       |g2 AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + 2)), (acc, x) -> (acc * 31 + x) % $P) AS g
       |  FROM toks, unnest(CASE WHEN len(th) >= 2 THEN range(len(th) - 1) ELSE [] END) AS r(i)
       |),
       |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
       |s2 AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
       |    CAST(count(*) AS BIGINT) AS uniq, max(c) AS top
       |  FROM c2 GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  COALESCE(s1.total, 0) AS tokens,
       |  COALESCE(s2.total, 0) AS bigrams,
       |  CASE WHEN COALESCE(s1.total, 0) > 0
       |    THEN round(CAST(s1.top AS DOUBLE) / s1.total, 6) ELSE 0.0 END AS top_token_frac,
       |  CASE WHEN COALESCE(s2.total, 0) > 0
       |    THEN round(1.0 - CAST(s2.uniq AS DOUBLE) / s2.total, 6) ELSE 0.0 END AS dup_2gram_frac,
       |  CASE WHEN COALESCE(s2.total, 0) > 0
       |    THEN round(CAST(s2.top AS DOUBLE) / s2.total, 6) ELSE 0.0 END AS top_2gram_frac
       |FROM documents d
       |LEFT JOIN s1 ON s1.doc_id = d.doc_id
       |LEFT JOIN s2 ON s2.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- q68: benchmark decontamination ------------------------------------
  // Training docs sharing a 5-token-gram with the eval slice
  // (doc_id % 97 = 0). The eval gram set is benchmark-sized → broadcast.

  private val decontK = 5

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    DedupOps
      .contaminationFlags(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        shingleK = decontK)
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + $decontK)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks, unnest(CASE WHEN len(th) >= $decontK THEN range(len(th) - ${decontK - 1}) ELSE [] END) AS r(i)
       |),
       |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS shared_grams
       |FROM sh s JOIN ev USING (h)
       |WHERE s.doc_id % 97 <> 0
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  // ---- q180: fuzzy decontamination (exact grams ∪ near-dup) ----------------
  // The union decontamination verdict real pipelines run (GPT-3's n-gram
  // overlap + Llama-style near-dup screening): a train doc is
  // contaminated if it shares ANY 5-gram with the eval slice (q68's
  // exact rule — catches quotes) OR is a MinHash near-duplicate
  // (jaccard ≥ 0.5) of an eval doc (catches paraphrase/whole-doc leaks
  // the gram rule can miss under tokenization drift). Near candidates
  // come from the banded cross-join of the two slices' LSH keys (q83's
  // machinery — never all-pairs); the gram leg is the q68 chain
  // verbatim. One row per contaminated train doc: its shared-gram count
  // and (if near) the lowest matching eval id.

  def fuzzyDecontam(s: SparkSession, d: String): DataFrame =
    fuzzyDecontamCore(documents(s, d))

  /** The q180 body from a (doc_id, text) relation — split out so specs
    * can plant gram-only and near-dup contamination. */
  private[graft] def fuzzyDecontamCore(docs: DataFrame): DataFrame = {
    import graft.functions.TextExprs
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val evalD = docs.filter(col("doc_id") % 97 === 0)
    def withSh(dd: DataFrame) = dd.select(col("doc_id"),
        TextExprs.shingle_hash_set(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    def bandsOf(dd: DataFrame) = withSh(dd).select(col("doc_id"),
        posexplode(TextExprs.lsh_band_keys(
          TextExprs.min_hash_sig(col("sh"), 16), 4)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
    val cands = bandsOf(train).withColumnRenamed("doc_id", "tid")
      .join(bandsOf(evalD).withColumnRenamed("doc_id", "eid"),
        Seq("band", "bkey"))
      .select("tid", "eid").distinct()
    val near = cands
      .join(withSh(train).select(col("doc_id").as("tid"),
        col("sh").as("sht"), size(col("sh")).cast("long").as("nt")), "tid")
      .join(withSh(evalD).select(col("doc_id").as("eid"),
        col("sh").as("she"), size(col("sh")).cast("long").as("ne")), "eid")
      .withColumn("common", TextExprs.intersect_size(col("sht"), col("she")))
      .filter(col("common").cast("double") /
        (col("nt") + col("ne") - col("common")) >= 0.5)
      .groupBy("tid").agg(min(col("eid")).as("near_dup_of"))
      .withColumnRenamed("tid", "doc_id")
    DedupOps.contaminationFlags(train, evalD, shingleK = decontK)
      .join(near, Seq("doc_id"), "full_outer")
      .selectExpr("doc_id",
        "CAST(COALESCE(shared_grams, 0) AS BIGINT) AS shared_grams",
        "near_dup_of")
      .orderBy("doc_id")
  }

  /** The q180 oracle chain (trd/evd → gram hits + banded near-dups vs
    * the eval slice), ending in `grams` and `near` — shared verbatim by
    * q180 and the q195 ledger. */
  private def fuzzyDecontamCtes: String =
    s"""trd AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
       |evd AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
       |toks_g AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |sh_g AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + $decontK)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks_g, unnest(CASE WHEN len(th) >= $decontK THEN range(len(th) - ${decontK - 1}) ELSE [] END) AS r(i)
       |),
       |evg AS (SELECT DISTINCT h FROM sh_g WHERE doc_id % 97 = 0),
       |grams AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS shared_grams
       |  FROM sh_g s JOIN evg USING (h)
       |  WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id
       |),
       |${duckSideCtes("t", "trd")},
       |${duckSideCtes("e", "evd")},
       |candx AS (
       |  SELECT DISTINCT t.doc_id AS tid, e.doc_id AS eid
       |  FROM bands_t t JOIN bands_e e ON e.band = t.band AND e.bkey = t.bkey
       |),
       |szt AS (SELECT doc_id, count(*) AS n FROM sh_t GROUP BY doc_id),
       |sze AS (SELECT doc_id, count(*) AS n FROM sh_e GROUP BY doc_id),
       |comx AS (
       |  SELECT c.tid, c.eid, count(*) AS common
       |  FROM candx c
       |  JOIN sh_t st ON st.doc_id = c.tid
       |  JOIN sh_e se ON se.doc_id = c.eid AND se.h = st.h
       |  GROUP BY c.tid, c.eid
       |),
       |near AS (
       |  SELECT tid AS doc_id, min(eid) AS near_dup_of
       |  FROM comx
       |  JOIN szt ON szt.doc_id = comx.tid
       |  JOIN sze ON sze.doc_id = comx.eid
       |  WHERE CAST(common AS DOUBLE) / (szt.n + sze.n - common) >= 0.5
       |  GROUP BY tid
       |)""".stripMargin

  private def fuzzyDecontamSql =
    s"""WITH $fuzzyDecontamCtes
       |SELECT COALESCE(g.doc_id, n.doc_id) AS doc_id,
       |  CAST(COALESCE(g.shared_grams, 0) AS BIGINT) AS shared_grams,
       |  n.near_dup_of
       |FROM grams g FULL OUTER JOIN near n ON n.doc_id = g.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q171: k-gram novelty score ----------------------------------------
  // The graded complement of q68: instead of flagging training docs that
  // share ANY eval gram, score every held-out doc (odd ids vs the even
  // reference — the q98/q165 split convention) by the fraction of its
  // distinct 5-gram hashes ABSENT from the reference. High novelty =
  // fresh text; low = near-memorized. NULL for docs too short to carry
  // a gram. Same radix-31 gram hashes as q68, so collisions mirror.

  def gramNovelty(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    DedupOps
      .gramNovelty(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0),
        shingleK = decontK)
      .orderBy("doc_id")
  }

  private val gramNoveltySql =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + $decontK)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks, unnest(CASE WHEN len(th) >= $decontK THEN range(len(th) - ${decontK - 1}) ELSE [] END) AS r(i)
       |),
       |mg AS (SELECT DISTINCT h FROM sh WHERE doc_id % 2 = 0),
       |hg AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(SUM(CASE WHEN mg.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS shared
       |  FROM sh s LEFT JOIN mg ON mg.h = s.h
       |  WHERE s.doc_id % 2 <> 0
       |  GROUP BY s.doc_id
       |)
       |SELECT d.doc_id, CAST(COALESCE(hg.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(hg.shared, 0) AS BIGINT) AS shared,
       |  CASE WHEN COALESCE(hg.n_grams, 0) > 0 THEN round(CAST(1 AS DOUBLE) - CAST(hg.shared AS DOUBLE) / hg.n_grams, 6) END AS novelty
       |FROM documents d LEFT JOIN hg ON hg.doc_id = d.doc_id
       |WHERE d.doc_id % 2 <> 0
       |ORDER BY d.doc_id""".stripMargin

  // ---- q138: standing decontamination store ------------------------------
  // Decontamination joins the standing-state family (q90 text bands,
  // q110 vectors, q119 phash, q126 segment frequencies): benchmarks are
  // ADMITTED over time — the store is built from half the eval slice,
  // the other half arrives via appendToEvalGramStore, and the meta tag
  // is sealed only after the append (a crash mid-admission leaves a
  // staging tag → rebuild, never a silent half-benchmark probe). The
  // training corpus then probes the standing gram set. The ORACLE is the
  // q68 union semantics — its hash match proves append ≡ rebuild on the
  // driver's own data, not just on a spec fixture.

  def standingDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val name = s"graft_evalgrams_$tag"
    val loc = s"${sys.props("java.io.tmpdir")}/graft_evalgrams/$tag"
    if (!DedupOps.evalGramStoreMatches(s, name, d)) {
      val evalDocs = docs.filter(col("doc_id") % 97 === 0)
      DedupOps.buildEvalGramStore(s,
        evalDocs.filter(expr("(doc_id div 97) % 2 = 0")), name, decontK,
        location = loc, datasetTag = s"$d:building")
      DedupOps.appendToEvalGramStore(s,
        evalDocs.filter(expr("(doc_id div 97) % 2 = 1")), name)
      DedupOps.retagEvalGramStore(s, name, loc, d)
    }
    DedupOps.probeContamination(s, docs.filter(col("doc_id") % 97 =!= 0), name)
      .orderBy("doc_id")
  }

  // ---- q75: exact-substring decontamination ------------------------------
  // The suffix-style companion to q68: same train/eval split, but instead
  // of counting shared distinct grams it measures the longest CONTIGUOUS
  // shared token run per contaminated doc (consecutive matching 5-gram
  // start positions; run m ⇒ m+4 shared tokens). Gaps-and-islands over
  // gram positions, mirrored verbatim in the oracle.

  def substringDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    DedupOps
      .substringContamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        shingleK = decontK)
      .orderBy("doc_id")
  }

  private val substringDecontaminateSql =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |g AS (
       |  SELECT doc_id, r.i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + $decontK)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks, unnest(CASE WHEN len(th) >= $decontK THEN range(len(th) - ${decontK - 1}) ELSE [] END) AS r(i)
       |),
       |ev AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
       |hits AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN ev USING (h)
       |  WHERE g.doc_id % 97 <> 0
       |),
       |isl AS (
       |  SELECT doc_id,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM hits
       |),
       |runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, grp)
       |SELECT doc_id, CAST(sum(run) AS BIGINT) AS hit_positions,
       |  CAST(max(run) + ${decontK - 1} AS BIGINT) AS max_run_tokens
       |FROM runs GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q112: corpus-internal exact-substring dedup ------------------------
  // q75's gaps-and-islands machinery turned INWARD (Lee et al. keep-first):
  // repeated ≥ 8-token runs ACROSS corpus documents, attributed to every
  // document except the earliest holder of each gram. No eval split, no
  // broadcast side — the corpus checks against itself.

  private val dedupMinRunTokens = 8

  def substringCorpusDedup(s: SparkSession, d: String): DataFrame =
    DedupOps
      .substringCorpusDedup(documents(s, d), shingleK = decontK,
        minRunTokens = dedupMinRunTokens)
      .orderBy("doc_id")

  private val substringCorpusDedupSql =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |g AS (
       |  SELECT doc_id, r.i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + $decontK)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks, unnest(CASE WHEN len(th) >= $decontK THEN range(len(th) - ${decontK - 1}) ELSE [] END) AS r(i)
       |),
       |f AS (SELECT h, min(doc_id) AS fd FROM g GROUP BY h),
       |hits AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN f USING (h)
       |  WHERE g.doc_id > f.fd
       |),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM hits
       |),
       |runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, grp),
       |q AS (SELECT doc_id, run FROM runs WHERE run + ${decontK - 1} >= $dedupMinRunTokens)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(run) AS BIGINT) AS dup_positions,
       |  CAST(sum(run + ${decontK - 1}) AS BIGINT) AS dup_tokens,
       |  CAST(max(run) + ${decontK - 1} AS BIGINT) AS max_run_tokens
       |FROM q GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- q108: trained quality classifier (logistic regression) ------------
  // The fastText-style LEARNED filter over the existing quality signals
  // (q24's features; label: lang = 'en'): 6 deterministic fixed-point GD
  // steps (LogitOps — int64-quantized per-doc gradient contributions,
  // floor-of-exact-quotient updates, lr = 1/2), trace hash-checked — the
  // oracle replays every step as a CTE chain (the q65/q93 unrolled-
  // iterations pattern). weight_fp is exact int64, so the hash has no
  // float hazard beyond the quantized exp() discipline q82/q98 set.

  private val logitSteps = 6
  private val logitXCols = Seq("x0", "x1", "x2", "x3", "x4")

  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val feats = TextOps.qualityStats(documents(s, d), Seq("the", "a"))
      .select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        col("type_token_ratio").as("x1"),
        col("mean_token_len").as("x2"),
        col("stopword_ratio").as("x3"),
        col("punct_ratio").as("x4"))
    graft.glm.LogitOps.trainTrace(feats, logitXCols, "y", logitSteps)
      .orderBy("step", "j")
  }

  /** The oracle's feature + GD-training chain (feat, w0..w{steps}) —
    * shared verbatim by q108 (reads the whole trace) and q147 (scores
    * with the FINAL weights). */
  private def logitCtes: String = {
    val k = logitXCols.length
    val margin = (0 until k).map(j => s"(w.w$j / 1000000.0) * f.x$j").mkString(" + ")
    def gradCte(i: Int): String = {
      val sums = (0 until k).map(j =>
        s"CAST(SUM(CAST(round((f.y - 1.0/(1.0 + exp(-($margin)))) * f.x$j * 1000000) AS BIGINT)) AS BIGINT) AS g$j")
        .mkString(",\n    ")
      s"""g$i AS MATERIALIZED (
         |  SELECT $sums,
         |    COUNT(*) AS n
         |  FROM feat f CROSS JOIN w${i - 1} w
         |)""".stripMargin
    }
    def wCte(i: Int): String = {
      val ws = (0 until k).map(j =>
        s"w.w$j + CAST(floor(g.g$j / (2.0 * g.n)) AS BIGINT) AS w$j").mkString(", ")
      s"w$i AS MATERIALIZED (SELECT $ws FROM w${i - 1} w CROSS JOIN g$i g)"
    }
    val chain = (1 to logitSteps).map(i => s"${gradCte(i)},\n${wCte(i)}").mkString(",\n")
    val zeros = (0 until k).map(_ => "CAST(0 AS BIGINT)").mkString(", ")
    val wCols = (0 until k).map(j => s"w$j").mkString(", ")
    s"""tok AS MATERIALIZED (
       |  SELECT doc_id, u.t AS tok
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), unnest(w) AS u(t)
       |),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    count(DISTINCT tok) AS n_distinct,
       |    sum(CAST(length(tok) AS BIGINT)) AS sumlen,
       |    sum(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS nstop
       |  FROM tok GROUP BY doc_id
       |),
       |feat AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    1.0 AS x0,
       |    round(CAST(a.n_distinct AS DOUBLE) / a.n_tokens, 6) AS x1,
       |    round(CAST(a.sumlen AS DOUBLE) / a.n_tokens, 6) AS x2,
       |    round(CAST(a.nstop AS DOUBLE) / a.n_tokens, 6) AS x3,
       |    round(CAST(length(regexp_replace(d.text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(d.text), 6) AS x4
       |  FROM documents d JOIN agg a ON a.doc_id = d.doc_id
       |),
       |w0($wCols) AS (VALUES ($zeros)),
       |$chain""".stripMargin
  }

  private def qualityClassifierSql: String = {
    val k = logitXCols.length
    val selects = (1 to logitSteps).flatMap(i => (0 until k).map(j =>
      s"SELECT CAST($i AS BIGINT) AS step, CAST($j AS BIGINT) AS j, w$j AS weight_fp, w$j / 1000000.0 AS weight FROM w$i"))
      .mkString("\nUNION ALL\n")
    s"""WITH $logitCtes
       |$selects
       |ORDER BY step, j""".stripMargin
  }

  // ---- q147: classifier calibration (reliability diagram + ECE) -----------
  // The evaluation a filtering classifier needs before its scores gate a
  // corpus: per confidence bin, predicted probability vs observed
  // accuracy. Trains the SAME model as q108 (the oracle shares the
  // feature + GD chain verbatim), scores every doc with the FINAL
  // weights, bins p into 10 equal-width bins, and reports per-bin count,
  // mean confidence (exact fixed-point sums — p is integerized per row
  // BEFORE summing, the engine-wide order-free discipline), observed
  // accuracy, and |gap|. ECE is the n-weighted gap sum — emitted as a
  // final per-bin column so the single scalar is recoverable without a
  // second query. Scale: scoring is a frozen-model projection (the
  // streamingQualityScore family); binning is a 10-row aggregate.

  def calibration(s: SparkSession, d: String): DataFrame = {
    val feats = TextOps.qualityStats(documents(s, d), Seq("the", "a"))
      .select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        col("type_token_ratio").as("x1"),
        col("mean_token_len").as("x2"),
        col("stopword_ratio").as("x3"),
        col("punct_ratio").as("x4"))
    val wFp = graft.glm.LogitOps
      .gdStepsFp(feats, logitXCols, "y", logitSteps).last
    calibrationCore(graft.glm.LogitOps.scoreWith(feats, logitXCols, wFp)
      .selectExpr("y", "1.0 / (1.0 + exp(-margin)) AS p"))
  }

  /** Reliability-diagram aggregation over a (y, p) relation — split out
    * so specs can feed planted probability/outcome pairs. */
  private[graft] def calibrationCore(scored: DataFrame): DataFrame =
    scored
      .selectExpr("y", "p",
        "least(CAST(floor(p * 10) AS BIGINT), 9) AS bin",
        "CAST(round(p * 1000000) AS BIGINT) AS p_fp")
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        expr("SUM(p_fp)").as("s_p"),
        expr("SUM(CAST(y AS BIGINT))").as("s_y"))
      .selectExpr("bin", "n",
        "round(CAST(s_p AS DOUBLE) / (n * 1000000.0), 6) AS confidence",
        "round(CAST(s_y AS DOUBLE) / n, 6) AS accuracy",
        "round(abs(CAST(s_y AS DOUBLE) / n - CAST(s_p AS DOUBLE) / (n * 1000000.0)), 6) AS gap")
      .orderBy("bin")

  private def calibrationSql: String =
    s"""WITH $logitCtes,
       |scored AS (
       |  SELECT f.y,
       |    1.0 / (1.0 + exp(-(${(0 until logitXCols.length)
            .map(j => s"(w.w$j / 1000000.0) * f.x$j").mkString(" + ")}))) AS p
       |  FROM feat f CROSS JOIN w$logitSteps w
       |),
       |binned AS (
       |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
       |    CAST(round(p * 1000000) AS BIGINT) AS p_fp, y
       |  FROM scored
       |)
       |SELECT bin, COUNT(*) AS n,
       |  round(CAST(SUM(p_fp) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS confidence,
       |  round(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS accuracy,
       |  round(abs(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*)
       |    - CAST(SUM(p_fp) AS DOUBLE) / (COUNT(*) * 1000000.0)), 6) AS gap
       |FROM binned GROUP BY bin
       |ORDER BY bin""".stripMargin

  // ---- q153: leakage-safe split (cluster-keyed assembly) -------------------
  // The q57 hash split keyed on the NEAR-DUP CLUSTER instead of the doc:
  // when two near-duplicate documents land on opposite sides of a
  // train/test split, the eval leaks — the standard fix is to split by
  // dedup cluster so every near-dup family moves as one unit. Composes
  // the hash-proven q66 components with the q57 slot (pure projection on
  // the cluster id); the oracle replays both verbatim.

  def leakageSplit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val clusters = DedupOps
      .dedupClusters(docs,
        DedupOps.minhashDupPairs(docs, shingleK = 3, numHashes = 16,
          rowsPerBand = 4, threshold = 0.5))
      .select("doc_id", "cluster")
    Training.hashSplit(clusters, "cluster", "graft-v1",
        Seq("train" -> 900, "val" -> 50, "test" -> 50))
      .select("doc_id", "cluster", "split")
      .orderBy("doc_id")
  }

  private val leakageSplitSql =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs2 AS (
       |  SELECT m.doc_a, m.doc_b
       |  FROM com m
       |  JOIN sz za ON za.doc_id = m.doc_a
       |  JOIN sz zb ON zb.doc_id = m.doc_b
       |  WHERE CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common) >= 0.5
       |),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs2
       |  UNION ALL SELECT doc_b, doc_a FROM pairs2
       |),
       |reach(v, m) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.m FROM sym s JOIN reach r ON r.v = s.dst
       |),
       |lbl AS (SELECT v, min(m) AS cluster FROM reach GROUP BY v),
       |cl AS (
       |  SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN lbl l ON l.v = d.doc_id
       |),
       |slotted AS (
       |  SELECT doc_id, cluster,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split('graft-v1:' || CAST(cluster AS VARCHAR), ''),
       |        c -> CAST(ord(c) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % $P) * 2654435761 % 1000 AS slot
       |  FROM cl
       |)
       |SELECT doc_id, cluster,
       |  CASE WHEN slot < 900 THEN 'train'
       |       WHEN slot < 950 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM slotted
       |ORDER BY doc_id""".stripMargin

  // ---- q150: classifier AUC (Mann–Whitney ranks) ---------------------------
  // The threshold-free companion to q147: AUC = P(score(pos) > score(neg))
  // computed from average ranks (ties share (min+max)/2 — exact halves,
  // so every arithmetic step is exact in doubles and order-free). Scores
  // come from the same frozen q108 model (projection); the rank window
  // runs over the eval relation (the q139 query-sample argument: AUC is
  // an evaluation, computed on an eval slice, not a corpus-sized sweep).

  def auc(s: SparkSession, d: String): DataFrame = {
    val feats = TextOps.qualityStats(documents(s, d), Seq("the", "a"))
      .select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        col("type_token_ratio").as("x1"),
        col("mean_token_len").as("x2"),
        col("stopword_ratio").as("x3"),
        col("punct_ratio").as("x4"))
    val wFp = graft.glm.LogitOps
      .gdStepsFp(feats, logitXCols, "y", logitSteps).last
    aucCore(graft.glm.LogitOps.scoreWith(feats, logitXCols, wFp)
      .selectExpr("doc_id", "y", "margin AS p"))
  }

  /** AUC over a (doc_id, y, p) relation: tie-averaged ranks of p
    * ascending; U = Σ ranks(pos) − n1(n1+1)/2; AUC = U / (n1·n0).
    *
    * Ranks are never materialized per row: a global `row_number` would
    * single-partition-sort the whole eval relation. Instead the scores
    * aggregate FIRST (groupBy p — the same tie groups the average rank is
    * defined over) and the only unpartitioned window runs over the
    * distinct-score relation, where the tie-averaged rank is recovered
    * exactly as r_avg = cum_before + (n_p+1)/2 (integers + exact halves —
    * identical to the old (min+max)/2 in IEEE doubles). A single-class
    * slice (n1=0 or n0=0) reports NULL explicitly rather than a silent
    * NaN.
    */
  private[graft] def aucCore(scored: DataFrame): DataFrame =
    scored
      .groupBy("p")
      .agg(expr("SUM(CAST(y AS BIGINT))").as("n_pos_p"),
        expr("COUNT(*)").as("n_p"))
      .selectExpr("n_pos_p", "n_p",
        "COALESCE(SUM(n_p) OVER (ORDER BY p ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
          "+ (CAST(n_p AS DOUBLE) + 1.0) / 2.0 AS r_avg")
      .agg(expr("SUM(n_pos_p)").as("n1"),
        expr("SUM(n_p - n_pos_p)").as("n0"),
        expr("SUM(n_pos_p * r_avg)").as("r1"))
      .selectExpr("n1", "n0",
        "CASE WHEN n1 > 0 AND n0 > 0 THEN " +
          "round((r1 - n1 * (n1 + 1) / 2.0) / (CAST(n1 AS DOUBLE) * n0), 6) " +
          "ELSE NULL END AS auc")

  private def aucSql: String =
    s"""WITH $logitCtes,
       |scored AS (
       |  SELECT f.doc_id, f.y,
       |    ${(0 until logitXCols.length)
            .map(j => s"(w.w$j / 1000000.0) * f.x$j").mkString(" + ")} AS p
       |  FROM feat f CROSS JOIN w$logitSteps w
       |),
       |rn AS (
       |  SELECT y, p,
       |    CAST(row_number() OVER (ORDER BY p ASC, doc_id ASC) AS BIGINT) AS rn
       |  FROM scored
       |),
       |grp AS (
       |  SELECT p, (CAST(MIN(rn) AS DOUBLE) + MAX(rn)) / 2.0 AS r_avg,
       |    SUM(CAST(y AS BIGINT)) AS n_pos_p, COUNT(*) AS n_p
       |  FROM rn GROUP BY p
       |),
       |aucagg AS (
       |  SELECT CAST(SUM(n_pos_p) AS BIGINT) AS n1,
       |    CAST(SUM(n_p - n_pos_p) AS BIGINT) AS n0,
       |    CAST(SUM(n_pos_p * r_avg) AS DOUBLE) AS r1
       |  FROM grp
       |)
       |SELECT n1, n0,
       |  CASE WHEN n1 > 0 AND n0 > 0 THEN
       |    round((r1 - n1 * (n1 + 1) / 2.0) / (CAST(n1 AS DOUBLE) * n0), 6)
       |  ELSE NULL END AS auc
       |FROM aucagg""".stripMargin

  // ---- q154: feature whitening (in-engine Cholesky) ------------------------
  // Decorrelate the quality features before they feed a learner
  // (correlated features slow GD and distort distance metrics): compute
  // the 4×4 feature covariance from EXACT fixed-point moments, factor it
  // IN-ENGINE with a GENERATED closed-form Cholesky (the triangular
  // analogue of q116's Gauss–Jordan generator — the same expression
  // strings run through Spark selectExpr and the DuckDB oracle, so L and
  // every whitened coordinate are bit-equal by construction), and solve
  // z = L⁻¹(x − μ) per doc by generated forward substitution. Covariance
  // is SPD here (features are not collinear), so no pivoting is needed —
  // the q116 argument. Scale shape: one corpus pass for moments (k(k+1)/2
  // tiny sums), one broadcast of the 1-row moment relation, then a pure
  // per-doc projection.

  private val whitenK = 4

  /** Generated closed-form Cholesky of a k×k SPD matrix given entry
    * names `c(i, j)` (i >= j): stage p emits column p of L. */
  private def cholStages(k: Int, c: (Int, Int) => String): Seq[Seq[String]] =
    (0 until k).map { p =>
      (p until k).map { i =>
        val dots = (0 until p).map(q => s"l_${i}_$q * l_${p}_$q")
        val body =
          if (i == p) {
            val sub = if (dots.isEmpty) "" else s" - (${dots.mkString(" + ")})"
            s"sqrt(${c(p, p)}$sub)"
          } else {
            val sub = if (dots.isEmpty) "" else s" - (${dots.mkString(" + ")})"
            s"(${c(i, p)}$sub) / l_${p}_$p"
          }
        s"$body AS l_${i}_$p"
      }
    }

  /** Generated forward substitution z = L⁻¹ v for entry names v(i). */
  private def fwdSubst(k: Int, v: Int => String): Seq[String] =
    (0 until k).map { i =>
      val dots = (0 until i).map(q => s"l_${i}_$q * z_$q")
      val sub = if (dots.isEmpty) "" else s" - (${dots.mkString(" + ")})"
      s"((${v(i)})$sub) / l_${i}_$i AS z_$i"
    }

  def featureWhiten(s: SparkSession, d: String): DataFrame = {
    val k = whitenK
    val feats = TextOps.qualityStats(documents(s, d), Seq("the", "a"))
      .selectExpr("doc_id",
        "CAST(round(type_token_ratio * 1e6, 0) AS BIGINT) AS xf_0",
        "CAST(round(mean_token_len * 1e6, 0) AS BIGINT) AS xf_1",
        "CAST(round(stopword_ratio * 1e6, 0) AS BIGINT) AS xf_2",
        // NOT punct_ratio: the test corpus is punctuation-free, so that
        // feature is constant and the covariance would be singular
        // (Cholesky needs SPD); doc length varies on any corpus
        "CAST(n_tokens * 1000000 AS BIGINT) AS xf_3")
    val momAggs =
      (0 until k).map(i => expr(s"SUM(xf_$i)").as(s"s_$i")) ++
        (for (i <- 0 until k; j <- 0 to i)
          yield expr(s"SUM(CAST(xf_$i AS DECIMAL(38,0)) * xf_$j)").as(s"q_${i}_$j")) :+
        expr("COUNT(*)").as("n")
    val mom = feats.agg(momAggs.head, momAggs.tail: _*)
    // cov entries as shared strings over the exact moments (unbiased /n)
    def cStr(i: Int, j: Int): String =
      s"(CAST(q_${i}_$j AS DOUBLE) / n - " +
        s"(CAST(s_$i AS DOUBLE) / n) * (CAST(s_$j AS DOUBLE) / n)) / 1e12"
    val withL = cholStages(k, (i, j) => cStr(i, j))
      .foldLeft(mom.selectExpr(
        ((0 until k).map(i => s"s_$i") ++
          (for (i <- 0 until k; j <- 0 to i) yield s"q_${i}_$j") :+ "n"): _*)) {
        (df, st) => df.selectExpr(ArraySeq.unsafeWrapArray(df.columns) ++ st: _*)
      }
    val zCols = fwdSubst(k,
      i => s"CAST(xf_$i AS DOUBLE) / 1e6 - CAST(s_$i AS DOUBLE) / (n * 1e6)")
    feats.crossJoin(broadcast(withL))
      .selectExpr("doc_id" +: (0 until k).map(i => s"xf_$i") ++:
        withL.columns.filter(_.startsWith("l_")) ++: Seq("n") ++:
        (0 until k).map(i => s"s_$i"): _*)
      .selectExpr("doc_id" +: zCols: _*)
      .selectExpr("doc_id" +: (0 until k).map(i => s"round(z_$i, 6) AS z_$i"): _*)
      .orderBy("doc_id")
  }

  private def featureWhitenSql: String = {
    val k = whitenK
    def cStr(i: Int, j: Int): String =
      s"(CAST(q_${i}_$j AS DOUBLE) / n - " +
        s"(CAST(s_$i AS DOUBLE) / n) * (CAST(s_$j AS DOUBLE) / n)) / 1e12"
    val momSums =
      ((0 until k).map(i => s"SUM(xf_$i) AS s_$i") ++
        (for (i <- 0 until k; j <- 0 to i)
          yield s"SUM(CAST(xf_$i AS HUGEINT) * xf_$j) AS q_${i}_$j") :+
        "COUNT(*) AS n").mkString(",\n    ")
    val stages = cholStages(k, (i, j) => cStr(i, j))
    val cholCtes = stages.zipWithIndex.map { case (st, p) =>
      val prev = if (p == 0) "mom" else s"ch${p - 1}"
      s"ch$p AS (SELECT *, ${st.mkString(",\n    ")} FROM $prev)"
    }.mkString(",\n")
    val zCols = fwdSubst(k,
      i => s"CAST(xf_$i AS DOUBLE) / 1e6 - CAST(s_$i AS DOUBLE) / (n * 1e6)")
    s"""WITH tok AS (
       |  SELECT doc_id, u.t AS tok
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), unnest(w) AS u(t)
       |),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    count(DISTINCT tok) AS n_distinct,
       |    sum(CAST(length(tok) AS BIGINT)) AS sumlen,
       |    sum(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS nstop
       |  FROM tok GROUP BY doc_id
       |),
       |feats AS (
       |  SELECT d.doc_id,
       |    CAST(round(round(CAST(a.n_distinct AS DOUBLE) / a.n_tokens, 6) * 1e6, 0) AS BIGINT) AS xf_0,
       |    CAST(round(round(CAST(a.sumlen AS DOUBLE) / a.n_tokens, 6) * 1e6, 0) AS BIGINT) AS xf_1,
       |    CAST(round(round(CAST(a.nstop AS DOUBLE) / a.n_tokens, 6) * 1e6, 0) AS BIGINT) AS xf_2,
       |    CAST(a.n_tokens * 1000000 AS BIGINT) AS xf_3
       |  FROM documents d JOIN agg a ON a.doc_id = d.doc_id
       |),
       |mom AS (
       |  SELECT
       |    $momSums
       |  FROM feats
       |),
       |$cholCtes
       |SELECT doc_id,
       |  ${(0 until k).map(i => s"round(z_$i, 6) AS z_$i").mkString(",\n  ")}
       |FROM (
       |  SELECT feats.doc_id, ${zCols.mkString(",\n    ")}
       |  FROM feats CROSS JOIN ch${k - 1}
       |)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q66: near-dup cluster resolution over the MinHash pair graph ------
  // Connected components by min-label propagation; every document gets its
  // component's min doc_id as cluster and a keep verdict. The oracle
  // computes the same components with a recursive reachability CTE — the
  // min over everything reachable IS the converged propagation fixpoint.

  def dedupClusters(s: SparkSession, d: String): DataFrame =
    DedupOps
      .dedupClusters(
        documents(s, d),
        DedupOps.minhashDupPairs(documents(s, d), shingleK = 3, numHashes = 16,
          rowsPerBand = 4, threshold = 0.5))
      .orderBy("doc_id")

  /** The q66 chain through the min-label fixpoint (lbl) — shared with the
    * q172 duplication profile. */
  private val dedupClusterCtes =
    s"""$minhashCtes,
       |pairs AS (
       |  SELECT m.doc_a, m.doc_b
       |  FROM com m
       |  JOIN sz za ON za.doc_id = m.doc_a
       |  JOIN sz zb ON zb.doc_id = m.doc_b
       |  WHERE CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common) >= 0.5
       |),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |),
       |reach(v, m) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.m FROM sym s JOIN reach r ON r.v = s.dst
       |),
       |lbl AS (SELECT v, min(m) AS cluster FROM reach GROUP BY v)""".stripMargin

  private val dedupClustersSql =
    s"""WITH RECURSIVE $dedupClusterCtes
       |SELECT d.doc_id,
       |  COALESCE(l.cluster, d.doc_id) AS cluster,
       |  (COALESCE(l.cluster, d.doc_id) = d.doc_id) AS keep
       |FROM documents d LEFT JOIN lbl l ON l.v = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- q172: corpus duplication profile ----------------------------------
  // The dedup REPORT a curation run ships with its output (the "what did
  // dedup actually find" datacard row): the q66 near-dup clusters rolled
  // into a cluster-size histogram — one row per size with the cluster
  // and document counts. size = 1 is the untouched mass; the ≥ 2 tail is
  // the duplication profile (n_docs − n_clusters docs would be dropped
  // by keep-min). Oracle shares the q66 chain verbatim through the
  // min-label fixpoint; only the rollup differs.
  //
  // Scale shape: q66's bucketed machinery (never all-pairs) + two
  // bounded aggregations (cluster-keyed, then size-keyed — the second is
  // histogram-sized). No window, no new data-sized exchange.

  def dupProfile(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    DedupOps
      .dedupClusters(docs,
        DedupOps.minhashDupPairs(docs, shingleK = 3, numHashes = 16,
          rowsPerBand = 4, threshold = 0.5))
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .selectExpr("CAST(size AS BIGINT) AS size", "n_clusters",
        "CAST(size * n_clusters AS BIGINT) AS n_docs")
      .orderBy("size")
  }

  private val dupProfileSql =
    s"""WITH RECURSIVE $dedupClusterCtes,
       |cl AS (
       |  SELECT COALESCE(l.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN lbl l ON l.v = d.doc_id
       |),
       |cs AS (SELECT cluster, count(*) AS size FROM cl GROUP BY cluster)
       |SELECT CAST(size AS BIGINT) AS size,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(size * count(*) AS BIGINT) AS n_docs
       |FROM cs GROUP BY size
       |ORDER BY size""".stripMargin

  // ---- q175: corpus datacard ----------------------------------------------
  // The dataset nutrition label a curation run publishes with its output
  // (Gebru et al. 2021 "Datasheets for Datasets" rendered as a query):
  // one (metric, value) relation carrying size (n_docs / n_tokens /
  // mean_doc_tokens), language mix (n_langs, Shannon entropy with
  // per-term 1e12 quantization over the |langs|-bounded relation),
  // duplication (share of docs keep-min would drop — the q66 chain),
  // contamination (share of train docs flagged by q68's 5-gram rule),
  // and quality (mean stopword ratio, per-doc 1e6-quantized before the
  // exact sum). Each family is one corpus pass feeding a bounded
  // aggregate; the dedup chain is the only non-trivial cost and it is
  // the bucketed q66 machinery. Oracle shares the q66 and q68 CTE
  // chains verbatim (suffix-renamed where names collide).

  def datacard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .selectExpr("stack(4, " +
        "'n_docs', CAST(n_docs AS DOUBLE), " +
        "'n_tokens', CAST(n_tokens AS DOUBLE), " +
        "'n_langs', CAST(n_langs AS DOUBLE), " +
        "'mean_doc_tokens', round(CAST(n_tokens AS DOUBLE) / n_docs, 6)" +
        ") AS (metric, value)")
    val lc = docs.groupBy("lang").agg(count(lit(1)).as("c"))
    val ent = lc.crossJoin(broadcast(lc.agg(sum(col("c")).as("n"))))
      .selectExpr("CAST(round(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n) * 1e12, 0) AS BIGINT) AS t")
      .agg(expr("round(-CAST(SUM(t) AS DOUBLE) / 1e12, 6)").as("value"))
      .selectExpr("'lang_entropy' AS metric", "value")
    val dup = DedupOps
      .dedupClusters(docs,
        DedupOps.minhashDupPairs(docs, shingleK = 3, numHashes = 16,
          rowsPerBand = 4, threshold = 0.5))
      .agg(countDistinct(col("cluster")).as("nc"), count(lit(1)).as("nd"))
      .selectExpr("'dup_doc_share' AS metric",
        "round(CAST(nd - nc AS DOUBLE) / nd, 6) AS value")
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val contam = DedupOps
      .contaminationFlags(train, docs.filter(col("doc_id") % 97 === 0),
        shingleK = decontK)
      .agg(count(lit(1)).as("n_contam"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("n_train"))))
      .selectExpr("'contaminated_share' AS metric",
        "round(CAST(n_contam AS DOUBLE) / n_train, 6) AS value")
    val qual = TextOps.qualityStats(docs, Seq("the", "a"))
      .agg(sum(expr("CAST(round(stopword_ratio * 1e6, 0) AS BIGINT)")).as("sfp"),
        count(lit(1)).as("n"))
      .selectExpr("'mean_stopword_ratio' AS metric",
        "round(CAST(sfp AS DOUBLE) / 1e6 / n, 6) AS value")
    base.union(ent).union(dup).union(contam).union(qual).orderBy("metric")
  }

  private val datacardSql =
    s"""WITH RECURSIVE $dedupClusterCtes,
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM documents
       |),
       |lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang),
       |lct AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM lc),
       |ent AS (
       |  SELECT round(-CAST(SUM(CAST(round(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n) * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS v
       |  FROM lc CROSS JOIN lct
       |),
       |dupstat AS (
       |  SELECT CAST(count(DISTINCT COALESCE(l.cluster, d.doc_id)) AS BIGINT) AS nc,
       |    CAST(count(*) AS BIGINT) AS nd
       |  FROM documents d LEFT JOIN lbl l ON l.v = d.doc_id
       |),
       |toks_dc AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |sh_dc AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + $decontK)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks_dc, unnest(CASE WHEN len(th) >= $decontK THEN range(len(th) - ${decontK - 1}) ELSE [] END) AS r(i)
       |),
       |ev_dc AS (SELECT DISTINCT h FROM sh_dc WHERE doc_id % 97 = 0),
       |cstat AS (
       |  SELECT (SELECT count(DISTINCT s.doc_id) FROM sh_dc s JOIN ev_dc e USING (h)
       |          WHERE s.doc_id % 97 <> 0) AS n_contam,
       |         (SELECT count(*) FROM documents WHERE doc_id % 97 <> 0) AS n_train
       |),
       |tq AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    sum(CASE WHEN u.t IN ('the', 'a') THEN 1 ELSE 0 END) AS nstop
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), unnest(w) AS u(t)
       |  GROUP BY doc_id
       |),
       |qstat AS (
       |  SELECT CAST(SUM(CAST(round(round(CAST(nstop AS DOUBLE) / n_tokens, 6) * 1e6, 0) AS BIGINT)) AS BIGINT) AS sfp,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM tq
       |)
       |SELECT metric, value FROM (
       |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM base
       |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM base
       |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM base
       |  UNION ALL SELECT 'mean_doc_tokens', round(CAST(n_tokens AS DOUBLE) / n_docs, 6) FROM base
       |  UNION ALL SELECT 'lang_entropy', v FROM ent
       |  UNION ALL SELECT 'dup_doc_share', round(CAST(nd - nc AS DOUBLE) / nd, 6) FROM dupstat
       |  UNION ALL SELECT 'contaminated_share', round(CAST(n_contam AS DOUBLE) / n_train, 6) FROM cstat
       |  UNION ALL SELECT 'mean_stopword_ratio', round(CAST(sfp AS DOUBLE) / 1e6 / n, 6) FROM qstat
       |)
       |ORDER BY metric""".stripMargin

  // ---- q176: standing datacard ---------------------------------------------
  // q175 maintained INCREMENTALLY: the nightly admission updates every
  // datacard metric from standing state + the increment alone — no
  // standing-corpus text is rescanned. Standing state: the q107 band
  // index + cluster labels (dup share via incrementalClusters — the
  // append ≡ rebuild precedent), the q138 eval-gram store (increment
  // contamination probe; the increment is train-only by construction,
  // so the standing eval slice stays complete), and additive scalars
  // (doc/token/quality-fixed-point sums + |langs|-bounded lang counts)
  // persisted at build. Every metric is additive or bounded-mergeable,
  // so the probe costs one increment pass + bucket-co-located index
  // probes. Oracle: the q175 chain VERBATIM on the union — the
  // hash-match IS the append ≡ rebuild proof at the datacard grain.

  def standingDatacard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val isEval = col("doc_id") % 97 === 0
    val standingPred = (col("doc_id") % 10 >= 2) || isEval
    val standing = docs.filter(standingPred)
    val inc = docs.filter(!standingPred) // train-only by construction
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val idxName = s"graft_dcard_idx_$tag"
    val idxLoc = s"${sys.props("java.io.tmpdir")}/graft_dcard_idx/$tag"
    val gramName = s"graft_dcard_evalgrams_$tag"
    val gramLoc = s"${sys.props("java.io.tmpdir")}/graft_dcard_evalgrams/$tag"
    def ok(sub: String) = try {
      val p = new org.apache.hadoop.fs.Path(s"$idxLoc/$sub/_SUCCESS")
      p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
    } catch { case _: Throwable => false }
    if (!DedupOps.bandIndexMatches(s, idxName, d) ||
        !ok("labels") || !ok("scalars") || !ok("langs")) {
      DedupOps
        .dedupClusters(standing,
          DedupOps.minhashDupPairs(standing, shingleK = 3, numHashes = 16,
            rowsPerBand = 4, threshold = 0.5))
        .select("doc_id", "cluster")
        .write.mode("overwrite").parquet(s"$idxLoc/labels")
      standing.groupBy("lang").agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(s"$idxLoc/langs")
      val contamStanding = DedupOps
        .contaminationFlags(standing.filter(!isEval), standing.filter(isEval),
          shingleK = decontK)
        .agg(count(lit(1)).as("n_contam"))
      TextOps.qualityStats(standing, Seq("the", "a"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(expr("CAST(round(stopword_ratio * 1e6, 0) AS BIGINT)")).as("sfp"),
          sum(when(!isEval, 1L).otherwise(0L)).as("n_train"))
        .crossJoin(contamStanding)
        .write.mode("overwrite").parquet(s"$idxLoc/scalars")
      DedupOps.buildBandIndex(s, standing, idxName,
        shingleK = 3, numHashes = 16, rowsPerBand = 4,
        location = idxLoc, buckets = 8, datasetTag = d)
    }
    if (!DedupOps.evalGramStoreMatches(s, gramName, d)) {
      DedupOps.buildEvalGramStore(s, docs.filter(isEval), gramName, decontK,
        location = gramLoc, datasetTag = d)
    }
    // ---- probe: increment pass + standing state only ----
    val st = Snapshots.parquet(s, s"$idxLoc/scalars")
      .selectExpr("n_docs AS st_docs", "n_tokens AS st_tokens",
        "sfp AS st_sfp", "n_train AS st_train", "n_contam AS st_contam")
    val incAgg = TextOps.qualityStats(inc, Seq("the", "a"))
      .agg(count(lit(1)).as("in_docs"),
        sum(col("n_tokens")).as("in_tokens"),
        sum(expr("CAST(round(stopword_ratio * 1e6, 0) AS BIGINT)")).as("in_sfp"))
    val incContam = DedupOps.probeContamination(s, inc, gramName)
      .agg(count(lit(1)).as("in_contam"))
    val merged = incAgg.crossJoin(broadcast(st)).crossJoin(broadcast(incContam))
      .selectExpr(
        "st_docs + in_docs AS n_docs",
        "st_tokens + COALESCE(in_tokens, 0) AS n_tokens",
        "st_sfp + COALESCE(in_sfp, 0) AS sfp",
        "st_train + in_docs AS n_train",
        "st_contam + in_contam AS n_contam")
    val lc = Snapshots.parquet(s, s"$idxLoc/langs")
      .unionByName(inc.groupBy("lang").agg(count(lit(1)).as("c")))
      .groupBy("lang").agg(sum(col("c")).as("c"))
    val nc = DedupOps
      .incrementalClusters(s, Snapshots.parquet(s, s"$idxLoc/labels"), inc,
        idxName, threshold = 0.5)
      .agg(countDistinct(col("cluster")).as("nc"))
    datacardFromState(merged, lc, nc)
  }

  // ---- q177: per-source mix report -----------------------------------------
  // The domain-mixing view the q175 corpus-level card can't give: per
  // source, size (docs / tokens / token share of the corpus), dominant
  // language (ties to the lexically smallest), quality (mean stopword
  // ratio, per-doc 1e6-quantized), and contamination rate within the
  // source's train docs — what a mixture designer reads before setting
  // per-domain sampling weights (the q87/q144 inputs). One corpus pass
  // for the per-doc stats, one for the lang counts, the q68 gram chain
  // for flags; every post-pass relation is |sources|- or
  // |sources×langs|-bounded (the top-lang window runs on ~100 rows).

  def sourceMix(s: SparkSession, d: String): DataFrame =
    sourceMixCore(documents(s, d))

  /** The q177 body from a (doc_id, text, lang, source) relation — split
    * out so specs can plant per-source corpora. */
  private[graft] def sourceMixCore(docs: DataFrame): DataFrame = {
    import graft.functions.TextExprs
    val perDoc = docs.select(col("doc_id"), col("source"),
        TextExprs.token_stats(col("text"), Seq("the", "a")).as("ts"))
      .selectExpr("doc_id", "source", "ts.n_tokens AS n_tokens",
        "CAST(round(round(CAST(ts.nstop AS DOUBLE) / ts.n_tokens, 6) * 1e6, 0) AS BIGINT) AS sr_fp")
    val bySrc = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("sr_fp")).as("sfp"))
    val top = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("c").desc, col("lang").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("c"))
    val flagged = DedupOps
      .contaminationFlags(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), shingleK = decontK)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_contam"))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .groupBy("source").agg(count(lit(1)).as("n_train"))
    bySrc
      .join(broadcast(top), Seq("source"))
      .join(broadcast(train), Seq("source"), "left")
      .join(broadcast(flagged), Seq("source"), "left")
      .na.fill(0L, Seq("n_contam", "n_train"))
      .crossJoin(broadcast(bySrc.agg(sum(col("n_tokens")).as("tt"))))
      .selectExpr("source", "n_docs", "n_tokens",
        "round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_share",
        "top_lang",
        "round(CAST(c AS DOUBLE) / n_docs, 6) AS top_lang_share",
        "CASE WHEN n_train > 0 THEN round(CAST(n_contam AS DOUBLE) / n_train, 6) END AS contam_share",
        "round(CAST(sfp AS DOUBLE) / 1e6 / n_docs, 6) AS mean_stopword_ratio")
      .orderBy("source")
  }

  private val sourceMixSql =
    s"""WITH tq AS (
       |  SELECT doc_id, source, count(*) AS n_tokens,
       |    sum(CASE WHEN u.t IN ('the', 'a') THEN 1 ELSE 0 END) AS nstop
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       |    unnest(w) AS u(t)
       |  GROUP BY doc_id, source
       |),
       |pd AS (
       |  SELECT source, n_tokens,
       |    CAST(round(round(CAST(nstop AS DOUBLE) / n_tokens, 6) * 1e6, 0) AS BIGINT) AS sr_fp
       |  FROM tq
       |),
       |bysrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(sr_fp) AS BIGINT) AS sfp
       |  FROM pd GROUP BY source
       |),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM bysrc),
       |bl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
       |       FROM documents GROUP BY 1, 2),
       |top AS (
       |  SELECT source, lang AS top_lang, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang ASC) AS rn
       |    FROM bl) WHERE rn = 1
       |),
       |toks_sm AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |sh_sm AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + $decontK)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks_sm, unnest(CASE WHEN len(th) >= $decontK THEN range(len(th) - ${decontK - 1}) ELSE [] END) AS r(i)
       |),
       |ev_sm AS (SELECT DISTINCT h FROM sh_sm WHERE doc_id % 97 = 0),
       |fl AS (
       |  SELECT s.doc_id FROM sh_sm s JOIN ev_sm e USING (h)
       |  WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id
       |),
       |flsrc AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_contam
       |  FROM fl JOIN documents d USING (doc_id) GROUP BY d.source
       |),
       |trsrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_train
       |  FROM documents WHERE doc_id % 97 <> 0 GROUP BY source
       |)
       |SELECT b.source, b.n_docs, b.n_tokens,
       |  round(CAST(b.n_tokens AS DOUBLE) / t.tt, 6) AS token_share,
       |  p.top_lang,
       |  round(CAST(p.c AS DOUBLE) / b.n_docs, 6) AS top_lang_share,
       |  CASE WHEN COALESCE(r.n_train, 0) > 0
       |    THEN round(CAST(COALESCE(f.n_contam, 0) AS DOUBLE) / r.n_train, 6) END AS contam_share,
       |  round(CAST(b.sfp AS DOUBLE) / 1e6 / b.n_docs, 6) AS mean_stopword_ratio
       |FROM bysrc b
       |JOIN top p ON p.source = b.source
       |LEFT JOIN trsrc r ON r.source = b.source
       |LEFT JOIN flsrc f ON f.source = b.source
       |CROSS JOIN tot t
       |ORDER BY b.source""".stripMargin

  /** The datacard's metric assembly from its bounded state relations —
    * shared by [[standingDatacard]] and the streaming admission twin so
    * both produce bit-identical metric rows. `merged`: one row of
    * (n_docs, n_tokens, sfp, n_train, n_contam); `lc`: the
    * |langs|-bounded counts; `nc`: one row of the distinct-cluster
    * count. */
  private[graft] def datacardFromState(merged: DataFrame, lc0: DataFrame,
      nc: DataFrame): DataFrame = {
    // lc is consumed THREE times below (n_langs, the entropy fold and its
    // total) and its plan embeds the increment lang-count pass —
    // |langs|-bounded by contract, so pin it: one increment scan instead
    // of three (local wall flat at fixture scale; the increment is
    // data-sized in production, where the 3× re-scan is the real cost)
    val lc = graft.util.Loops.pin(lc0)
    val nLangs = lc.agg(count(lit(1)).as("n_langs"))
    val ent = lc.crossJoin(broadcast(lc.agg(sum(col("c")).as("n"))))
      .selectExpr("CAST(round(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n) * 1e12, 0) AS BIGINT) AS t")
      .agg(expr("round(-CAST(SUM(t) AS DOUBLE) / 1e12, 6)").as("value"))
      .selectExpr("'lang_entropy' AS metric", "value")
    val base = merged.crossJoin(broadcast(nLangs)).crossJoin(broadcast(nc))
      .selectExpr("stack(7, " +
        "'n_docs', CAST(n_docs AS DOUBLE), " +
        "'n_tokens', CAST(n_tokens AS DOUBLE), " +
        "'n_langs', CAST(n_langs AS DOUBLE), " +
        "'mean_doc_tokens', round(CAST(n_tokens AS DOUBLE) / n_docs, 6), " +
        "'dup_doc_share', round(CAST(n_docs - nc AS DOUBLE) / n_docs, 6), " +
        "'contaminated_share', round(CAST(n_contam AS DOUBLE) / n_train, 6), " +
        "'mean_stopword_ratio', round(CAST(sfp AS DOUBLE) / 1e6 / n_docs, 6)" +
        ") AS (metric, value)")
    base.union(ent).orderBy("metric")
  }

  // ---- q195: FineWeb-style curation ledger ------------------------------------
  // The modern web-corpus pipeline (Penedo et al. 2024's stage order) as
  // ONE per-document rejection ledger — exact dedup → MinHash near-dup
  // (on exact survivors) → fuzzy decontamination vs the eval slice
  // (q180's exact-gram ∪ near-dup rule) → the Gopher rule gate — where
  // each document carries the verdict of every stage it REACHED (later
  // stages are NULL once a document is dropped: the ledger says WHY a
  // doc died, not what later gates would have thought). kept = survived
  // all four. The q128 assembly answers "what survives"; this answers
  // the curation team's other question, "where does the corpus go".
  //
  // Every stage reuses its family's hash-proven machinery: exact/near
  // dedup are q20/q128's chains, contamination is q180's CTEs verbatim,
  // the gate is q193's integer rules. Scale shape is the union of the
  // donors': no new exchange class appears — the ledger itself is one
  // final doc-keyed projection over four flag relations.

  /** The q195 body over any (doc_id, lang, text) frame (eval slice =
    * doc_id % 97 = 0, never ledgered) — spec-plantable. */
  private[graft] def finewebLedgerCore(docs: DataFrame): DataFrame = {
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "lang", "text")
    val t1 = train
      .join(train.groupBy("text").agg(min("doc_id").as("keep_id")), Seq("text"))
      .select(col("doc_id"), col("lang"), col("text"),
        (col("doc_id") =!= col("keep_id")).as("exact_dup"))
      .localCheckpoint() // consumed by the ledger spine + the k1 filter
    val k1 = t1.filter(!col("exact_dup")).select("doc_id", "lang", "text")
    val near = DedupOps
      .minhashDupPairs(k1, shingleK = 3, numHashes = 16, rowsPerBand = 4,
        threshold = 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_hit", lit(true))
    val cont = fuzzyDecontamCore(docs)
      .select(col("doc_id")).withColumn("cont_hit", lit(true))
    val gate = gopherGateCore(train.select("doc_id", "text"))
      .select(col("doc_id"), col("n_words"), (!col("pass")).as("gate_fail"))
    t1.select("doc_id", "lang", "exact_dup")
      .join(near, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(gate, Seq("doc_id"), "left")
      // masked stages are nullable BIGINT 0/1, not nullable BOOLEAN —
      // pandas renders engine NULL booleans differently (None vs NaN),
      // while nullable ints coerce to float64 NaN on BOTH sides
      .selectExpr("doc_id", "lang", "n_words", "exact_dup",
        "CASE WHEN exact_dup THEN NULL ELSE CAST(COALESCE(near_hit, false) AS BIGINT) END AS near_dup",
        "CASE WHEN exact_dup OR COALESCE(near_hit, false) THEN NULL " +
          "ELSE CAST(COALESCE(cont_hit, false) AS BIGINT) END AS contaminated",
        "CASE WHEN exact_dup OR COALESCE(near_hit, false) OR COALESCE(cont_hit, false) THEN NULL " +
          "ELSE CAST(gate_fail AS BIGINT) END AS gopher_fail",
        "NOT exact_dup AND NOT COALESCE(near_hit, false) " +
          "AND NOT COALESCE(cont_hit, false) AND NOT gate_fail AS kept")
      .orderBy("doc_id")
  }

  def finewebLedger(s: SparkSession, d: String): DataFrame =
    finewebLedgerCore(documents(s, d))

  private def finewebLedgerSql: String =
    s"""WITH $fuzzyDecontamCtes,
       |lbase AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0),
       |lexk AS (SELECT text, min(doc_id) AS keep_id FROM lbase GROUP BY text),
       |lt1 AS (
       |  SELECT b.doc_id, b.lang, b.text, b.doc_id <> k.keep_id AS exact_dup
       |  FROM lbase b JOIN lexk k ON k.text = b.text
       |),
       |lk1 AS (SELECT doc_id, text FROM lt1 WHERE NOT exact_dup),
       |${duckSideCtes("m", "lk1")},
       |lcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_m a JOIN bands_m b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |lsz AS (SELECT doc_id, count(*) AS n FROM sh_m GROUP BY doc_id),
       |lcom AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM lcand c
       |  JOIN sh_m s1 ON s1.doc_id = c.doc_a
       |  JOIN sh_m s2 ON s2.doc_id = c.doc_b AND s2.h = s1.h
       |  GROUP BY c.doc_a, c.doc_b
       |),
       |lnear AS (
       |  SELECT DISTINCT m.doc_b AS doc_id
       |  FROM lcom m
       |  JOIN lsz za ON za.doc_id = m.doc_a
       |  JOIN lsz zb ON zb.doc_id = m.doc_b
       |  WHERE CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common) >= 0.5
       |),
       |lcont AS (
       |  SELECT doc_id FROM grams WHERE shared_grams > 0
       |  UNION SELECT doc_id FROM near
       |),
       |lgth AS (SELECT doc_id, string_split(text, ' ') AS th FROM lbase),
       |lgfeat AS (
       |  SELECT doc_id, CAST(len(th) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(th, w -> length(w))) AS BIGINT) AS sumlen,
       |    CAST(len(list_filter(th, w -> regexp_matches(w, '[^a-zA-Z0-9]'))) AS BIGINT) AS n_sym,
       |    CAST(len(list_filter(th, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(th, w -> list_contains([${gopherStops.map(w => s"'$w'").mkString(", ")}], w))) AS BIGINT) AS n_stop
       |  FROM lgth
       |),
       |lgate AS (
       |  SELECT doc_id, n_words, NOT (
       |    n_words >= 50 AND n_words <= 100000
       |    AND 3 * n_words <= sumlen AND sumlen <= 10 * n_words
       |    AND 10 * n_sym <= n_words
       |    AND 5 * n_alpha >= 4 * n_words
       |    AND n_stop >= 2) AS gate_fail
       |  FROM lgfeat
       |)
       |SELECT t.doc_id, t.lang, g.n_words, t.exact_dup,
       |  CASE WHEN t.exact_dup THEN NULL
       |       ELSE CAST(n.doc_id IS NOT NULL AS BIGINT) END AS near_dup,
       |  CASE WHEN t.exact_dup OR COALESCE(n.doc_id IS NOT NULL, false) THEN NULL
       |       ELSE CAST(c.doc_id IS NOT NULL AS BIGINT) END AS contaminated,
       |  CASE WHEN t.exact_dup OR COALESCE(n.doc_id IS NOT NULL, false)
       |         OR COALESCE(c.doc_id IS NOT NULL, false) THEN NULL
       |       ELSE CAST(g.gate_fail AS BIGINT) END AS gopher_fail,
       |  NOT t.exact_dup AND n.doc_id IS NULL AND c.doc_id IS NULL
       |    AND NOT g.gate_fail AS kept
       |FROM lt1 t
       |LEFT JOIN lnear n ON n.doc_id = t.doc_id
       |LEFT JOIN lcont c ON c.doc_id = t.doc_id
       |LEFT JOIN lgate g ON g.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // ---- q193: Gopher-rule quality gate ----------------------------------------
  // Rae et al. 2021 Table A1 as one verdict relation — the rule-based
  // filter every web-corpus pipeline runs before the learned one (q108):
  // per document, the five deterministic rules and the composite pass.
  // Every rule compares EXACT INTEGERS (3 ≤ mean-word-len ≤ 10 becomes
  // 3·nw ≤ Σlen ∧ Σlen ≤ 10·nw; the 10%/80% ratios cross-multiply the
  // same way) — no double appears anywhere, so the oracle needs no
  // rounding discipline at all.
  //
  // Scale shape: ONE corpus pass, all five rules as projections over the
  // token array in the scan stage; no shuffle but the output sort.

  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherGate(s: SparkSession, d: String): DataFrame =
    gopherGateCore(documents(s, d))

  /** The q193 body over any (doc_id, text) frame — spec-plantable. */
  private[graft] def gopherGateCore(docs: DataFrame): DataFrame = {
    val stopArr = gopherStops.map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("th", split(col("text"), " "))
      .selectExpr("doc_id", "CAST(size(th) AS BIGINT) AS n_words",
        "CAST(aggregate(th, 0L, (a, w) -> a + length(w)) AS BIGINT) AS sumlen",
        "CAST(size(filter(th, w -> w rlike '[^a-zA-Z0-9]')) AS BIGINT) AS n_sym",
        "CAST(size(filter(th, w -> w rlike '[a-zA-Z]')) AS BIGINT) AS n_alpha",
        s"CAST(size(filter(th, w -> array_contains(array($stopArr), w))) AS BIGINT) AS n_stop")
      .selectExpr("doc_id", "n_words",
        "CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_len",
        "CAST(3 * n_words <= sumlen AND sumlen <= 10 * n_words AS BIGINT) AS r_wordlen",
        "CAST(10 * n_sym <= n_words AS BIGINT) AS r_symbol",
        "CAST(5 * n_alpha >= 4 * n_words AS BIGINT) AS r_alpha",
        "CAST(n_stop >= 2 AS BIGINT) AS r_stop")
      .selectExpr("doc_id", "n_words", "r_len", "r_wordlen", "r_symbol",
        "r_alpha", "r_stop",
        "r_len + r_wordlen + r_symbol + r_alpha + r_stop = 5 AS pass")
      .orderBy("doc_id")
  }

  private val gopherGateSql = {
    val stopArr = gopherStops.map(w => s"'$w'").mkString(", ")
    s"""WITH gth AS (
       |  SELECT doc_id, string_split(text, ' ') AS th FROM documents
       |),
       |gfeat AS (
       |  SELECT doc_id, CAST(len(th) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(th, w -> length(w))) AS BIGINT) AS sumlen,
       |    CAST(len(list_filter(th, w -> regexp_matches(w, '[^a-zA-Z0-9]'))) AS BIGINT) AS n_sym,
       |    CAST(len(list_filter(th, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(th, w -> list_contains([$stopArr], w))) AS BIGINT) AS n_stop
       |  FROM gth
       |),
       |grules AS (
       |  SELECT doc_id, n_words,
       |    CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_len,
       |    CAST(3 * n_words <= sumlen AND sumlen <= 10 * n_words AS BIGINT) AS r_wordlen,
       |    CAST(10 * n_sym <= n_words AS BIGINT) AS r_symbol,
       |    CAST(5 * n_alpha >= 4 * n_words AS BIGINT) AS r_alpha,
       |    CAST(n_stop >= 2 AS BIGINT) AS r_stop
       |  FROM gfeat
       |)
       |SELECT doc_id, n_words, r_len, r_wordlen, r_symbol, r_alpha, r_stop,
       |  r_len + r_wordlen + r_symbol + r_alpha + r_stop = 5 AS pass
       |FROM grules
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q188: LSH banding recall/precision sweep -----------------------------
  // The q135 measurement applied to the DEDUP family: MinHash banding,
  // unlike q114's pigeonhole-exact phash bands, has probabilistic recall
  // (P(candidate) = 1 − (1 − j^r)^b) — this query measures what each band
  // geometry actually buys on THIS corpus. Ground truth: exact Jaccard
  // ≥ 0.5 pairs (q22's inverted-index semantics, hash-proven unpruned);
  // per rows-per-band r ∈ {1, 2, 4} over the same 16-hash signature:
  // candidate count, true-pair hits, recall, and candidate precision —
  // the table an operator reads before picking q21's geometry.
  //
  // Scale shape: the signature relation is computed ONCE and pinned (it
  // IS the standing artifact a MinHash index materializes; three band
  // geometries read it); each geometry's candidate set comes from the
  // bucket self-join (bucket sizes are the candidate sets); the truth
  // relation is near-dup-pair-sized. Output is 3 rows.

  private val lshEvalRpb = Seq(1, 2, 4)

  def lshRecall(s: SparkSession, d: String): DataFrame =
    lshRecallCore(documents(s, d))

  /** The q188 sweep body over any (doc_id, text) frame — shared by the
    * full sweep and q197's sampled mode, and spec-pinnable. */
  private[graft] def lshRecallCore(docs: DataFrame): DataFrame = {
    import graft.functions.TextExprs
    val sh = docs
      .select(col("doc_id"), TextExprs.shingle_hash_set(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), explode(col("shs")).as("h"))
    val sig = DedupOps.minhashSignatures(sh, 16).localCheckpoint()
    val truth = DedupOps.jaccardDupPairs(docs, shingleK = 3, threshold = 0.5,
      maxDf = 64L).select("doc_a", "doc_b").localCheckpoint()
    val perR = lshEvalRpb.map { r =>
      val cand = DedupOps.lshCandidates(DedupOps.lshBands(sig, r))
      // ONE pass per geometry: truth is unique per (doc_a, doc_b) (groupBy
      // output), so the left join is multiplicity-preserving — count(*)
      // is the candidate count and count(match-marker) the hit count. The
      // former two-subtree form (count agg + semi-join agg) built the
      // band self-join TWICE per geometry (r20 verdict item 3).
      cand.join(truth.withColumn("__t", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_cand"), count(col("__t")).as("n_hit"))
        .withColumn("rows_per_band", lit(r.toLong))
    }.reduce(_ unionByName _)
    perR
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .selectExpr("rows_per_band", "n_true", "n_cand", "n_hit",
        "CASE WHEN n_true > 0 THEN round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall",
        "CASE WHEN n_cand > 0 THEN round(CAST(n_hit AS DOUBLE) / n_cand, 6) END AS cand_precision")
      .orderBy("rows_per_band")
  }

  // ---- q197: the q188 sweep in SAMPLED-evaluation mode ---------------------
  // The scale posture q188 documented but didn't execute: at corpus scale
  // a recall sweep is an EVALUATION, not a production pass — run it on a
  // deterministic hash-sample and read the same table. The sample gate is
  // the q57 salted slot (poly_hash("lsh-sample-v1:" ‖ doc_id) Knuth-mixed
  // mod 1000 < mill): membership is a pure projection of doc_id, so the
  // sample is reproducible across engines, executions, and cluster sizes,
  // and composes with the standing-index discipline (a doc's membership
  // never changes as the corpus grows).
  //
  // Estimator behavior when the sample binds: truth and candidate PAIRS
  // survive only when BOTH endpoints are sampled (rate ≈ (mill/1000)²),
  // so n_true/n_cand/n_hit are downscaled counts, while recall and
  // cand_precision are RATIO estimators whose bias vanishes as the
  // sampled pair population grows — the standard pair-sampling trade
  // (documented; the spec pins mill = 1000 ≡ the full sweep).

  private val lshSampleMill = 500

  /** The q197 body: the q188 sweep over the deterministic doc sample. */
  private[graft] def lshRecallSampledCore(docs: DataFrame, mill: Int): DataFrame = {
    import graft.functions.Hashing
    val gate = (Hashing.poly_hash(
      concat_ws(":", lit("lsh-sample-v1"), col("doc_id").cast("string")))
      * lit(2654435761L)) % lit(1000L) < lit(mill.toLong)
    lshRecallCore(docs.filter(gate))
      .selectExpr(s"CAST($mill AS BIGINT) AS sample_mill", "rows_per_band",
        "n_true", "n_cand", "n_hit", "recall", "cand_precision")
  }

  def lshRecallSampled(s: SparkSession, d: String): DataFrame =
    lshRecallSampledCore(documents(s, d), lshSampleMill)

  private val lshRecallSql = lshSweepSql("documents", "")

  private val lshRecallSampledSql = lshSweepSql(
    s"""(SELECT doc_id, text FROM documents
       |   WHERE (${duckHash("'lsh-sample-v1:' || CAST(doc_id AS VARCHAR)")}
       |     * 2654435761) % 1000 < $lshSampleMill)""".stripMargin,
    s"CAST($lshSampleMill AS BIGINT) AS sample_mill, ")

  /** The q188/q197 oracle sweep over a parametric document source;
    * `headCols` prefixes extra literal output columns. */
  private def lshSweepSql(docsSrc: String, headCols: String): String = {
    def bandCtes(r: Int): String =
      s"""bands$r AS (
         |  SELECT doc_id, j // $r AS band,
         |         sum(mh * ([1,31,961,29791])[(j % $r) + 1]) AS bkey
         |  FROM mh GROUP BY doc_id, j // $r
         |),
         |cand$r AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands$r a JOIN bands$r b ON a.band = b.band AND a.bkey = b.bkey
         |   AND a.doc_id < b.doc_id
         |)""".stripMargin
    def row(r: Int): String =
      s"""SELECT CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT count(*) FROM tru) AS n_true,
         |  (SELECT count(*) FROM cand$r) AS n_cand,
         |  (SELECT count(*) FROM cand$r c JOIN tru t
         |     ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM $docsSrc
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + 3)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM toks, unnest(CASE WHEN len(th) >= 3 THEN range(len(th) - 2) ELSE [] END) AS r(i)
       |),
       |xc AS (
       |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
       |  FROM sh s1 JOIN sh s2 ON s1.h = s2.h AND s1.doc_id < s2.doc_id
       |),
       |xsz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |xcom AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM xc c
       |  JOIN sh s1 ON s1.doc_id = c.doc_a
       |  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.h = s1.h
       |  GROUP BY c.doc_a, c.doc_b
       |),
       |tru AS (
       |  SELECT m.doc_a, m.doc_b FROM xcom m
       |  JOIN xsz za ON za.doc_id = m.doc_a
       |  JOIN xsz zb ON zb.doc_id = m.doc_b
       |  WHERE CAST(m.common AS DOUBLE) / (za.n + zb.n - m.common) >= 0.5
       |),
       |mh AS (
       |  SELECT doc_id, r.j AS j, min(((654435747*(r.j + 1) % 1000000007) * h + 1779033703*(2*r.j + 1) % 1000000007) % $P) AS mh
       |  FROM sh, unnest(range(16)) AS r(j)
       |  GROUP BY doc_id, r.j
       |),
       |${lshEvalRpb.map(bandCtes).mkString(",\n")},
       |rows_out AS (
       |${lshEvalRpb.map(row).mkString("\nUNION ALL\n")}
       |)
       |SELECT ${headCols}rows_per_band, n_true, n_cand, n_hit,
       |  CASE WHEN n_true > 0 THEN round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall,
       |  CASE WHEN n_cand > 0 THEN round(CAST(n_hit AS DOUBLE) / n_cand, 6) END AS cand_precision
       |FROM rows_out
       |ORDER BY rows_per_band""".stripMargin
  }

  // ---- q187: n-gram diversity (distinct-n) ---------------------------------
  // Li et al. 2016's distinct-n — the lexical-diversity number a datacard
  // reports next to duplication (q172) and that synthetic/generated text
  // fails first: per (lang, n ∈ {1,2,3}), distinct n-grams over total
  // n-grams. Gram hashes are the engine-wide radix-31 fold over token
  // hashes (the q68/q171 kernel, non-distinct variant), so the oracle
  // replays counts exactly.
  //
  // Scale shape: ONE corpus pass — the three gram lengths ride one
  // explode (array-of-structs, one kernel call per n in the scan stage)
  // into one (lang, n)-keyed aggregate. count(DISTINCT h) sends one row
  // per distinct gram through the exchange — exact by design here; the
  // sketch swap at the 10⁹-gram wall is q100's KMV (documented trade).

  def distinctNgrams(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextExprs
    documents(s, d)
      .select(col("lang"), explode(array(Seq(1, 2, 3).map(n =>
        struct(lit(n.toLong).as("n"),
          TextExprs.shingle_hashes(col("text"), n).as("hs"))): _*)).as("g"))
      .select(col("lang"), col("g.n").as("n"), explode(col("g.hs")).as("h"))
      .groupBy("lang", "n")
      .agg(count(lit(1)).as("total_grams"),
        countDistinct(col("h")).as("distinct_grams"))
      .selectExpr("lang", "n", "total_grams", "distinct_grams",
        "CASE WHEN total_grams > 0 THEN round(CAST(distinct_grams AS DOUBLE) / total_grams, 6) END AS distinct_ratio")
      .orderBy("lang", "n")
  }

  private val distinctNgramsSql =
    s"""WITH dtoks AS (
       |  SELECT lang, list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
       |  FROM documents
       |),
       |dg AS (
       |  SELECT lang, n.n AS n,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, r.i + 1, r.i + n.n)), (acc, x) -> (acc * 31 + x) % $P) AS h
       |  FROM dtoks,
       |       unnest([CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)]) AS n(n),
       |       unnest(CASE WHEN len(th) >= n.n THEN range(len(th) - n.n + 1) ELSE [] END) AS r(i)
       |)
       |SELECT lang, n, CAST(count(*) AS BIGINT) AS total_grams,
       |  CAST(count(DISTINCT h) AS BIGINT) AS distinct_grams,
       |  CASE WHEN count(*) > 0
       |    THEN round(CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6) END AS distinct_ratio
       |FROM dg
       |GROUP BY lang, n
       |ORDER BY lang, n""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q187_distinct_ngrams", distinctNgrams, Some(distinctNgramsSql)),
    Q("q188_lsh_recall", lshRecall, Some(lshRecallSql)),
    Q("q197_lsh_recall_sampled", lshRecallSampled, Some(lshRecallSampledSql)),
    Q("q193_gopher_gate", gopherGate, Some(gopherGateSql)),
    Q("q195_fineweb_ledger", finewebLedger, Some(finewebLedgerSql)),
    Q("q54_token_counts", tokenCounts, Some(tokenCountsSql)),
    Q("q20_exact_dedup", exactDedup, Some(exactDedupSql)),
    Q("q21_minhash_pairs", minhashPairs, Some(minhashPairsSql)),
    Q("q66_dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    Q("q172_dup_profile", dupProfile, Some(dupProfileSql)),
    Q("q175_datacard", datacard, Some(datacardSql)),
    Q("q176_standing_datacard", standingDatacard, Some(datacardSql)),
    Q("q177_source_mix", sourceMix, Some(sourceMixSql)),
    Q("q180_fuzzy_decontam", fuzzyDecontam, Some(fuzzyDecontamSql)),
    Q("q68_decontaminate", decontaminate, Some(decontaminateSql)),
    Q("q171_gram_novelty", gramNovelty, Some(gramNoveltySql)),
    Q("q138_standing_decontam", standingDecontam, Some(decontaminateSql)),
    Q("q75_substring_decontam", substringDecontaminate, Some(substringDecontaminateSql)),
    Q("q112_substring_dedup", substringCorpusDedup, Some(substringCorpusDedupSql)),
    Q("q22_jaccard_pairs", jaccardPairs, Some(jaccardPairsSql)),
    Q("q83_incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    Q("q90_standing_dedup", standingDedup, Some(incrementalDedupSql)),
    Q("q107_incremental_clusters", incrementalClustersQuery, Some(dedupClustersSql)),
    Q("q108_quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    Q("q147_calibration", calibration, Some(calibrationSql)),
    Q("q150_auc", auc, Some(aucSql)),
    Q("q153_leakage_split", leakageSplit, Some(leakageSplitSql)),
    Q("q154_feature_whiten", featureWhiten, Some(featureWhitenSql)),
    Q("q95_corpus_assembly", corpusAssembly, Some(corpusAssemblySql)),
    Q("q120_multimodal_assembly", multimodalAssembly,
      Some(corpusAssemblySqlWith(mediaGate = true))),
    Q("q128_clean_assembly", cleanAssembly,
      Some(corpusAssemblySqlWith(mediaGate = true, boilGate = true))),
    Q("q59_jaccard_prefix", jaccardPrefix, Some(jaccardPrefixSql)),
    Q("q23_simhash", simhashQ, Some(simhashSql)),
    Q("q24_text_stats", textStats, Some(textStatsSql)),
    Q("q67_repetition", repetitionStats, Some(repetitionStatsSql)),
    Q("q25_lang_id", langId, Some(langIdSql)),
    Q("q26_fingerprint", fingerprint, Some(fingerprintSql)),
  )
}
