package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.util.Snapshots
import graft.multimodal.MultimodalOps

/** Multimodal-column queries: binary payload plumbing over `documents`
  * stand-in media. q42 (stub decode via mapPartitions) has no SQL oracle —
  * the driver records a rows-only check; q43 (frame sampling) is pure
  * relational algebra over binary columns and is oracle-checked including
  * the binary frame values.
  */
object Multimodal extends QueryModule {

  /** q42: partition-batched stub decode → fixed-width features. The first
    * two feature stripes are projected out so the output is flat doubles.
    * The mapPartitions plumbing is the point; the stub's arithmetic (radix-
    * 31 fold over every 8th payload byte, scaled to [0,1)) is nevertheless
    * oracle-checkable — the SQL mirrors it in the char domain (ASCII
    * corpus: char ops == byte ops). */
  def mediaFeatures(s: SparkSession, d: String): DataFrame =
    MultimodalOps
      .extractFeatures(s, MultimodalOps.mediaFromDocuments(documents(s, d)))
      .select(
        col("doc_id"), col("n_bytes"),
        round(element_at(col("features"), 1), 6).as("f0"),
        round(element_at(col("features"), 2), 6).as("f1"),
      )
      .orderBy("doc_id")

  /** ASCII guard shared by every media oracle that mirrors BYTE operations
    * in the char domain (ord(char) == byte only for pure ASCII): a future
    * non-ASCII corpus must fail loudly here, not silently diverge the
    * hash check. octet_length(encode(text)) == length(text) iff ASCII. */
  private val asciiDocs =
    """docs AS (
      |  SELECT doc_id,
      |    CASE WHEN octet_length(encode(text)) = length(text) THEN text
      |         ELSE error('media oracle: non-ASCII payload, char-domain mirror invalid') END AS text
      |  FROM documents
      |)""".stripMargin

  private def stripeHash(j: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(list_filter(range(length(text)), i -> i % ${MultimodalOps.FeatureDim} = $j),
       |    i -> CAST(ord(substring(text, CAST(i + 1 AS INT), 1)) AS BIGINT))),
       |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin.replace("\n", " ")

  private val mediaFeaturesSql =
    s"""WITH $asciiDocs
       |SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_bytes,
       |  round(CAST(${stripeHash(0)} AS DOUBLE) / 1000000007.0, 6) AS f0,
       |  round(CAST(${stripeHash(1)} AS DOUBLE) / 1000000007.0, 6) AS f1
       |FROM docs
       |ORDER BY doc_id""".stripMargin

  /** q43: every 4th 64-byte frame of each payload, with the frame bytes. */
  def frameSample(s: SparkSession, d: String): DataFrame =
    MultimodalOps
      .sampleFrames(MultimodalOps.mediaFromDocuments(documents(s, d)),
        frameBytes = 64, stride = 4)
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        // payloads are ASCII stand-ins → decode for the oracle compare
        // (DuckDB 1.0 can't slice BLOBs; the op itself keeps binary frames)
        decode(col("frame"), "UTF-8").as("frame_text"))
      .orderBy("doc_id", "frame_idx")

  private val frameSampleSql =
    s"""WITH $asciiDocs,
      |media AS (
      |  SELECT doc_id, text AS payload,
      |    octet_length(encode(text)) // 64 AS n_frames
      |  FROM docs
      |)
      |SELECT doc_id, n_frames, r.f AS frame_idx,
      |  substring(payload, CAST(r.f * 64 + 1 AS INTEGER), 64) AS frame_text
      |FROM media, unnest(range(0, n_frames, 4)) AS r(f)
      |WHERE n_frames > 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** q56: block-stride payload resize (the image/audio downsample slot of
    * the decode → extract → resize → frame-sample chain): keep the first 4
    * bytes of every 8-byte block, binary→binary in the scan stage. Output
    * is summarized (byte counts + content hash) because DuckDB 1.0 cannot
    * slice BLOBs — the oracle mirrors the op on the ASCII text stand-in
    * where char ops == byte ops. */
  def mediaResize(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{BinaryExprs, Hashing}
    MultimodalOps.mediaFromDocuments(documents(s, d))
      .select(col("doc_id"), col("payload"),
        BinaryExprs.block_resize(col("payload"), 8, 4).as("resized"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes_in"),
        length(col("resized")).cast("long").as("n_bytes_out"),
        Hashing.poly_hash(col("resized").cast("string")).as("content_hash"),
      )
      .orderBy("doc_id")
  }

  private val mediaResizeSql =
    s"""WITH $asciiDocs,
      |resized AS (
      |  SELECT doc_id, length(text) AS n_in,
      |    array_to_string(list_transform(range((length(text) + 7) // 8),
      |      i -> substring(text, CAST(8 * i + 1 AS INT), 4)), '') AS r
      |  FROM docs
      |)
      |SELECT doc_id,
      |  CAST(n_in AS BIGINT) AS n_bytes_in,
      |  CAST(length(r) AS BIGINT) AS n_bytes_out,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(r, ''), c -> CAST(ord(c) AS BIGINT))), (acc, x) -> (acc * 31 + x) % 1000000007) AS content_hash
      |FROM resized
      |ORDER BY doc_id""".stripMargin

  // ---- q114/q115/q119: perceptual near-dup + cross-modal manifest --------

  import graft.functions.Phash
  import graft.multimodal.PhashOps

  /** The verified perceptual near-dup PAIR relation at Hamming ≤ τ —
    * [[PhashOps.pairRelation]] over the documents-backed media table. */
  private def phashPairRelation(s: SparkSession, d: String, tau: Int): DataFrame =
    PhashOps.pairRelation(
      MultimodalOps.mediaFromDocuments(documents(s, d)), tau)

  /** q114: perceptual near-dup pairs over binary payloads — 64-bit pHash
    * fingerprints (Phash.phash64), bucketed by 4 disjoint 16-bit bands,
    * verified by exact Hamming distance ≤ 3. By pigeonhole the banding is
    * EXACT at this radius (a pair differing in ≤ 3 bits cannot differ in
    * all 4 bands), so unlike MinHash banding there is no recall luck: the
    * bucket join is pure pruning. Scale shape: candidates are bounded by
    * the band-value histogram — 65 536 values per band pools random pairs
    * as ~n²/65 536, 256× fewer candidates than the 8-bit geometry this
    * width replaces (the round-12 scale reservation) — and payload bytes
    * stay in the scan stage; only 8-byte fingerprints and band keys
    * shuffle. */
  def phashPairs(s: SparkSession, d: String): DataFrame =
    phashPairRelation(s, d, tau = PhashOps.Tau)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")

  /** The ×1e6 cosine kernel emitted from [[Phash.kernel64]] as literals —
    * no libm call crosses the engine boundary (the q51/W4 fixed-point
    * discipline). Shared with TextDedup's q120 oracle. */
  private[queries] def kernCte: String = {
    val kern = (for {
      k <- 1 to Phash.Bits64
      b <- 0 until Phash.Grid64
    } yield s"($k,$b,${Phash.kernel64(k - 1)(b)})").mkString(", ")
    s"kern(k, b, w) AS (VALUES $kern)"
  }

  /** Per-side phash64 CTE chain over relation `rel` (names `_$sx`-suffixed
    * so two sides can coexist, the q83 duckSideCtes pattern): block means
    * and DCT signs replayed in exact int64 over the ASCII stand-in
    * payloads. The media CTE asserts ASCII-ness (octet_length == length)
    * via error(): the oracle mirrors byte ops in the char domain, which is
    * only valid for pure-ASCII text — a future non-ASCII corpus must fail
    * loudly here, not silently diverge the hash check. Bit 64 is the int64
    * sign bit: the CASE emits min-long for k = 64 (DuckDB's `1 << 63`
    * overflows), matching the JVM's natural wrap; band extraction masks
    * after the arithmetic shift, so signedness never reaches bucket
    * keys — bit-identical to [[PhashOps.bandRelation]]. */
  private[queries] def phashSideCtes(sx: String, rel: String): String =
    s"""media_$sx AS (
       |  SELECT doc_id,
       |    CASE WHEN octet_length(encode(text)) = length(text) THEN text
       |         ELSE error('phash oracle: non-ASCII payload, char-domain mirror invalid') END AS text,
       |    CAST(length(text) AS BIGINT) AS n
       |  FROM $rel
       |),
       |grid_$sx AS (
       |  SELECT doc_id, text, n, g.b AS b,
       |    (g.b * n) // ${Phash.Grid64} AS lo, ((g.b + 1) * n) // ${Phash.Grid64} AS hi
       |  FROM media_$sx, unnest(range(${Phash.Grid64})) AS g(b)
       |),
       |blocks_$sx AS (
       |  SELECT doc_id, b,
       |    CASE WHEN hi > lo THEN
       |      (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |         list_transform(range(lo, hi),
       |           i -> CAST(ord(substring(text, CAST(i + 1 AS INT), 1)) AS BIGINT))),
       |         (a, x) -> a + x) * ${Phash.MeanScale}) // (hi - lo)
       |    ELSE 0 END AS m
       |  FROM grid_$sx
       |),
       |coef_$sx AS (
       |  SELECT doc_id, k.k AS k, sum(k.w * bl.m) AS c
       |  FROM blocks_$sx bl JOIN kern k ON k.b = bl.b
       |  GROUP BY doc_id, k.k
       |),
       |ph_$sx AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN c > 0 THEN
       |      CASE WHEN k = ${Phash.Bits64} THEN CAST(-9223372036854775808 AS BIGINT)
       |           ELSE (CAST(1 AS BIGINT) << (k - 1)) END
       |      ELSE 0 END) AS BIGINT) AS ph
       |  FROM coef_$sx GROUP BY doc_id
       |),
       |bands_$sx AS MATERIALIZED (
       |  SELECT doc_id, ph, r.r AS r, (ph >> (16 * r.r)) & 65535 AS bv
       |  FROM ph_$sx, unnest(range(4)) AS r(r)
       |)""".stripMargin

  /** Single-relation phash CTE chain ending in `cand` — shared by the
    * q114 and q115 oracles. */
  private def phashCtes: String =
    s"""$kernCte,
       |${phashSideCtes("s", "documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, a.ph AS pha, b.doc_id AS doc_b, b.ph AS phb
       |  FROM bands_s a JOIN bands_s b ON a.r = b.r AND a.bv = b.bv AND a.doc_id < b.doc_id
       |)""".stripMargin

  private def phashPairsSql: String =
    s"""WITH $phashCtes
       |SELECT doc_a, doc_b, CAST(bit_count(xor(pha, phb)) AS BIGINT) AS dist
       |FROM cand
       |WHERE bit_count(xor(pha, phb)) <= ${PhashOps.Tau}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q115: the CROSS-MODAL manifest — each document's text verdict (exact
    * dedup: lowest doc_id of its text group) joined with its media verdict
    * (lowest perceptual near-dup at Hamming ≤ 3) into one keep decision,
    * the shape a multimodal training-data pipeline gates on: a sample
    * survives only if BOTH modalities are novel. */
  def crossmodalManifest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val textV = docs
      .select(col("doc_id"),
        min("doc_id").over(Window.partitionBy("text")).as("__tm"))
      .select(col("doc_id"),
        when(col("doc_id") > col("__tm"), col("__tm")).as("text_dup_of"))
    val imgV = phashPairRelation(s, d, tau = 3)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min("doc_a").as("image_dup_of"))
    textV.join(imgV, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text_dup_of"), col("image_dup_of"),
        (col("text_dup_of").isNull && col("image_dup_of").isNull).as("keep"))
      .orderBy("doc_id")
  }

  private def crossmodalManifestSql: String =
    s"""WITH $phashCtes,
       |tv AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY text)
       |         THEN min(doc_id) OVER (PARTITION BY text) END AS text_dup_of
       |  FROM documents
       |),
       |iv AS (
       |  SELECT doc_b AS doc_id, min(doc_a) AS image_dup_of
       |  FROM cand WHERE bit_count(xor(pha, phb)) <= 3
       |  GROUP BY doc_b
       |)
       |SELECT t.doc_id, t.text_dup_of, iv.image_dup_of,
       |  (t.text_dup_of IS NULL AND iv.image_dup_of IS NULL) AS keep
       |FROM tv t LEFT JOIN iv ON iv.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // ---- q119: standing perceptual index + media admission ------------------

  /** q119: per-arrival media admission against the STANDING perceptual
    * index — the media modality's q90 (text) / q110 (vectors) twin,
    * completing the standing-index symmetry across all three modalities.
    * Same corpus/increment split as q90 (doc_id % 10): the corpus is
    * fingerprinted and band-bucketed ONCE (PhashOps.buildPhashIndex —
    * Bench's warmup pass absorbs the build, so the timed number IS the
    * per-batch probe), then each arriving payload is judged by probing the
    * (r, bv)-bucketed band relation with zero corpus-side exchange.
    * Verdict semantics are exactly q114's pair relation restricted to
    * increment↔corpus edges: image_dup_of = min corpus near-dup at
    * Hamming ≤ 3, keep = none. The FULL dataset path is verified against
    * _pmeta (the q90 guard): a tag mismatch, missing table, or band-
    * geometry drift rebuilds rather than probing a stale index. */
  def standingPhash(s: SparkSession, d: String): DataFrame = {
    val media = MultimodalOps.mediaFromDocuments(documents(s, d))
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val name = s"graft_phash_idx_$tag"
    if (!PhashOps.phashIndexMatches(s, name, d))
      PhashOps.buildPhashIndex(s, media.filter(col("doc_id") % 10 >= 2), name,
        location = s"${sys.props("java.io.tmpdir")}/graft_phash_idx/$tag",
        datasetTag = d)
    PhashOps.probePhashIndex(s, media.filter(col("doc_id") % 10 < 2), name)
      .orderBy("doc_id")
  }

  private def standingPhashSql: String =
    s"""WITH $kernCte,
       |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 2),
       |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 2),
       |${phashSideCtes("c", "corp")},
       |${phashSideCtes("i", "inc")},
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS inc_id, i.ph AS phi, c.doc_id AS corp_id, c.ph AS phc
       |  FROM bands_i i JOIN bands_c c ON i.r = c.r AND i.bv = c.bv
       |),
       |near AS (
       |  SELECT inc_id, min(corp_id) AS image_dup_of
       |  FROM cand WHERE bit_count(xor(phi, phc)) <= ${PhashOps.Tau}
       |  GROUP BY inc_id
       |)
       |SELECT i.doc_id, n.image_dup_of, (n.image_dup_of IS NULL) AS keep
       |FROM inc i LEFT JOIN near n ON n.inc_id = i.doc_id
       |ORDER BY i.doc_id""".stripMargin

  // ---- q122: resize-robust near-dup via multi-probe banding ----------------

  /** q122: perceptual near-dup pairs at Hamming ≤ 11 — the 2×-RESIZE
    * operating point (PhashSpec measures block-decimation at ~8–10 of the
    * 64 bits, OUTSIDE q114's re-encode radius 3). The widened radius comes
    * from multi-probe banding: each probe-side band key expands to its
    * Hamming-≤2 neighborhood (137 keys), which keeps the candidate join
    * pigeonhole-EXACT at radius 4·3−1 = 11 (some band must differ in ≤ 2
    * bits) while pooling stays ~n²·137/65 536 per band — bounded, unlike
    * any exact all-pairs scan. The oracle is the banding-FREE all-pairs
    * SQL: the hash match proves the multi-probe expansion lost no pair.
    * q114 (τ = 3, 1× probe cost) and q122 (τ = 11, 137× probe cost) are
    * the two documented operating points of one operator. */
  def phashResizePairs(s: SparkSession, d: String): DataFrame =
    phashPairRelation(s, d, tau = 11)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")

  private def phashResizePairsSql: String =
    s"""WITH $kernCte,
       |${phashSideCtes("s", "documents")}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS dist
       |FROM ph_s a JOIN ph_s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ph, b.ph)) <= 11
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q121: incremental perceptual cluster maintenance -------------------

  /** q121: q119 ∘ q114-clusters — the media twin of q107: the standing
    * corpus carries perceptual cluster labels (component min ids over the
    * Hamming ≤ 3 pair graph) beside the standing band index; the arriving
    * batch's new edges update labels INCREMENTALLY (probe + delta-CC +
    * broadcast remap, PhashOps.incrementalPhashClusters) — the corpus is
    * never re-paired. The oracle is the union RE-RUN (recursive-CTE
    * components over ALL documents' phash pair graph): the hash match IS
    * the proof that incremental ≡ full. Own index name/location (not
    * q119's) so the two queries can build concurrently under Verify's
    * thread pool; the labels store is guarded by its _SUCCESS marker (the
    * q107 ADVICE closure) in addition to the index meta. */
  def phashClusters(s: SparkSession, d: String): DataFrame = {
    val media = MultimodalOps.mediaFromDocuments(documents(s, d))
    val corpus = media.filter(col("doc_id") % 10 >= 2)
    val inc = media.filter(col("doc_id") % 10 < 2)
    val tag = (d.hashCode.toLong & 0xffffffffL).toHexString
    val name = s"graft_phash_cidx_$tag"
    val location = s"${sys.props("java.io.tmpdir")}/graft_phash_cidx/$tag"
    val labelsOk = try {
      val p = new org.apache.hadoop.fs.Path(s"$location/labels/_SUCCESS")
      p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
    } catch { case _: Throwable => false }
    if (!PhashOps.phashIndexMatches(s, name, d) || !labelsOk) {
      graft.dedup.DedupOps
        .dedupClusters(corpus, PhashOps.pairRelation(corpus))
        .select("doc_id", "cluster")
        .write.mode("overwrite").parquet(s"$location/labels")
      PhashOps.buildPhashIndex(s, corpus, name, location = location,
        datasetTag = d)
    }
    val standing = Snapshots.parquet(s, s"$location/labels")
    PhashOps.incrementalPhashClusters(s, standing, inc, name)
      .orderBy("doc_id")
  }

  private def phashClustersSql: String =
    s"""WITH RECURSIVE $phashCtes,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM cand
       |  WHERE bit_count(xor(pha, phb)) <= ${PhashOps.Tau}
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
       |lbl AS (SELECT v, min(m) AS cluster FROM reach GROUP BY v)
       |SELECT d.doc_id,
       |  COALESCE(l.cluster, d.doc_id) AS cluster,
       |  (COALESCE(l.cluster, d.doc_id) = d.doc_id) AS keep
       |FROM documents d LEFT JOIN lbl l ON l.v = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- q210: audio fingerprint dedup ----------------------------------------
  // Completes the modality set (text shingles / image pHash / video
  // keyframes → AUDIO): payloads as 8-bit PCM, the Haitsma–Kalker
  // sign-of-band-energy-second-difference fingerprint (24 exact-int bits,
  // graft.functions.Afp), 3 disjoint 8-bit Hamming bands (EXACT at τ = 2
  // by pigeonhole — pure pruning, no recall luck), min-earlier-id dup
  // verdicts (the q114 semantics). The oracle replays the fingerprint in
  // the char domain (ASCII stand-in guard) and the identical band join.
  // Fixture non-vacuity: exact-duplicate texts exist at both SFs, so
  // identical payloads collide at distance 0 and the verdict column is
  // live; the 0 < dist ≤ τ perceptual path is spec-planted
  // (AudioFingerprintSpec), the q186 protocol.
  //
  // Scale shape: fingerprints are a scan-stage projection (payloads never
  // shuffle); candidates pool at ~n²·3/256 per band over 8-byte rows;
  // the standing-index/admission form is AudioOps.buildAudioIndex +
  // streamingAudioAdmission (spec-pinned), giving arriving batches flat
  // probe cost with zero corpus-side exchange.

  import graft.multimodal.AudioOps

  def audioDedup(s: SparkSession, d: String): DataFrame =
    AudioOps.dedupVerdicts(
      MultimodalOps.mediaFromDocuments(documents(s, d)), AudioOps.Tau)
      .orderBy("doc_id")

  private def audioDedupSql: String =
    s"""WITH $asciiDocs,
       |aen AS (
       |  SELECT doc_id, s.i * 9 // length(text) AS f, s.i % 4 AS b,
       |    SUM(CAST(ord(substring(text, CAST(s.i + 1 AS INTEGER), 1)) AS BIGINT)
       |      * ord(substring(text, CAST(s.i + 1 AS INTEGER), 1))) AS e
       |  FROM docs, unnest(range(length(text))) AS s(i)
       |  GROUP BY 1, 2, 3
       |),
       |agrid AS (
       |  SELECT doc_id, f.f, b.b
       |  FROM docs, unnest(range(9)) AS f(f), unnest(range(4)) AS b(b)
       |),
       |aeg AS (
       |  SELECT g.doc_id, g.f, g.b, COALESCE(aen.e, 0) AS e
       |  FROM agrid g LEFT JOIN aen
       |    ON aen.doc_id = g.doc_id AND aen.f = g.f AND aen.b = g.b
       |),
       |ad1 AS (
       |  SELECT a.doc_id, a.f, a.b, a.e - c.e AS d
       |  FROM aeg a JOIN aeg c
       |    ON c.doc_id = a.doc_id AND c.f = a.f AND c.b = a.b + 1
       |  WHERE a.b <= 2
       |),
       |afpt AS (
       |  SELECT a.doc_id,
       |    CAST(SUM(CASE WHEN a.d - p.d > 0
       |      THEN (CAST(1 AS BIGINT) << CAST((a.f - 1) * 3 + a.b AS INTEGER))
       |      ELSE 0 END) AS BIGINT) AS afp
       |  FROM ad1 a JOIN ad1 p
       |    ON p.doc_id = a.doc_id AND p.f = a.f - 1 AND p.b = a.b
       |  GROUP BY a.doc_id
       |),
       |abnd AS (
       |  SELECT doc_id, afp, r.r AS r,
       |    (afp >> CAST(8 * r.r AS INTEGER)) & 255 AS bv
       |  FROM afpt, unnest(range(3)) AS r(r)
       |),
       |acand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, a.afp AS fa,
       |    b.doc_id AS doc_b, b.afp AS fb
       |  FROM abnd a JOIN abnd b
       |    ON a.r = b.r AND a.bv = b.bv AND a.doc_id < b.doc_id
       |),
       |anear AS (
       |  SELECT doc_b AS doc_id, MIN(doc_a) AS audio_dup_of
       |  FROM acand WHERE bit_count(xor(fa, fb)) <= ${AudioOps.Tau}
       |  GROUP BY doc_b
       |)
       |SELECT f.doc_id, f.afp, n.audio_dup_of,
       |  n.audio_dup_of IS NULL AS keep
       |FROM afpt f LEFT JOIN anear n ON n.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin

  // ---- q186: video keyframe dedup ------------------------------------------
  // The frame-pruning step a video-captioning pipeline runs BEFORE the
  // expensive per-frame model: within each video (payload), drop frames
  // perceptually near-identical (phash64 Hamming ≤ τ) to ANY earlier
  // frame — the greedy streaming-decoder rule (novel-vs-all-prior, NOT
  // connected components: a suppressed frame still suppresses its own
  // later near-twins, which is what a decode-in-order gate does). Frames
  // are the q43 slicing at stride 1, sampled at 2× the content rate
  // (each frame appears twice in sequence — the operator's actual
  // regime: decoders sample faster than scenes change; measured, the
  // ASCII stand-in payloads have NO organic near-dup frames — min
  // intra-video Hamming 15 — so without the oversampling the gate would
  // be fixture-vacuous). Fingerprints are the q114 phash64; the organic
  // ≤ τ path (corrupted near-twin, chain suppression) is spec-pinned.
  //
  // Scale shape: phash is a map-only projection in the scan stage (only
  // 8-byte fingerprints leave it); the pair relation is per-video
  // (frames² per key, bounded by clip duration — intra-video needs no
  // banding; CROSS-video dedup is q114/q119's banded index). The verdict
  // join is frame-table-sized, co-keyed on doc_id.

  private val KfTau = 3
  private val KfFrameBytes = 64

  /** The q186 body over a (doc_id, frame_idx, frame) relation —
    * spec-plantable. */
  private[graft] def keyframeDedupCore(frames0: DataFrame, tau: Int): DataFrame = {
    import graft.functions.BinaryExprs
    val ph = frames0.select(col("doc_id"), col("frame_idx"),
      BinaryExprs.phash64(col("frame")).as("ph"))
    val dup = ph.selectExpr("doc_id", "frame_idx AS fa", "ph AS pha")
      .join(ph.selectExpr("doc_id", "frame_idx AS fb", "ph AS phb"),
        Seq("doc_id"))
      .filter(col("fa") < col("fb"))
      .filter(expr(s"bit_count(pha ^ phb) <= $tau"))
      .groupBy(col("doc_id"), col("fb").as("frame_idx"))
      .agg(min("fa").as("dup_of"))
    ph.select("doc_id", "frame_idx")
      .join(dup, Seq("doc_id", "frame_idx"), "left")
      .selectExpr("doc_id", "frame_idx", "dup_of", "dup_of IS NULL AS kept")
      .orderBy("doc_id", "frame_idx")
  }

  def keyframeDedup(s: SparkSession, d: String): DataFrame =
    keyframeDedupCore(
      MultimodalOps.sampleFrames(
          MultimodalOps.mediaFromDocuments(documents(s, d)),
          frameBytes = KfFrameBytes, stride = 1)
        .selectExpr("doc_id",
          "explode(array(frame_idx * 2, frame_idx * 2 + 1)) AS frame_idx",
          "frame"),
      KfTau)

  private def keyframeDedupSql: String =
    s"""WITH $kernCte,
       |fmedia AS (
       |  SELECT doc_id, text, octet_length(encode(text)) // $KfFrameBytes AS n_frames
       |  FROM documents
       |),
       |frames AS MATERIALIZED (
       |  SELECT doc_id, r.f * 2 + o.i AS frame_idx,
       |    substring(text, CAST(r.f * $KfFrameBytes + 1 AS INTEGER), $KfFrameBytes) AS ftext
       |  FROM fmedia, unnest(range(0, n_frames, 1)) AS r(f),
       |       unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS o(i)
       |  WHERE n_frames > 0
       |),
       |-- pack radix 1e6: frame_idx reaches 2·(octet_length/$KfFrameBytes), so any
       |-- document under ~32 MB stays collision-free (the 1024 radix only
       |-- covered ~32 KB docs — a silent desync trap as fixtures grow)
       |${phashSideCtes("kf", "(SELECT doc_id * 1000000 + frame_idx AS doc_id, ftext AS text FROM frames)")},
       |kfp AS (
       |  SELECT a.doc_id // 1000000 AS doc_id, a.doc_id % 1000000 AS fa,
       |    b.doc_id % 1000000 AS fb
       |  FROM ph_kf a JOIN ph_kf b
       |    ON a.doc_id // 1000000 = b.doc_id // 1000000
       |   AND a.doc_id % 1000000 < b.doc_id % 1000000
       |  WHERE bit_count(xor(a.ph, b.ph)) <= $KfTau
       |),
       |dupkf AS (
       |  SELECT doc_id, fb, MIN(fa) AS dup_of FROM kfp GROUP BY doc_id, fb
       |)
       |SELECT f.doc_id, f.frame_idx, d.dup_of, d.dup_of IS NULL AS kept
       |FROM frames f
       |LEFT JOIN dupkf d ON d.doc_id = f.doc_id AND d.fb = f.frame_idx
       |ORDER BY f.doc_id, f.frame_idx""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q186_keyframe_dedup", keyframeDedup, Some(keyframeDedupSql)),
    Q("q210_audio_dedup", audioDedup, Some(audioDedupSql)),
    Q("q42_media_features", mediaFeatures, Some(mediaFeaturesSql)),
    Q("q43_frame_sample", frameSample, Some(frameSampleSql)),
    Q("q56_media_resize", mediaResize, Some(mediaResizeSql)),
    Q("q114_phash_pairs", phashPairs, Some(phashPairsSql)),
    Q("q115_crossmodal_manifest", crossmodalManifest, Some(crossmodalManifestSql)),
    Q("q119_standing_phash", standingPhash, Some(standingPhashSql)),
    Q("q121_phash_clusters", phashClusters, Some(phashClustersSql)),
    Q("q122_phash_multiprobe", phashResizePairs, Some(phashResizePairsSql)),
  )
}
