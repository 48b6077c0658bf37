package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.multimodal.MultimodalOps

class StreamMultimodalSpec extends SparkSpec {

  test("streaming tumbling counts equal the batch twin on the same files") {
    val s = spark
    val dir = Files.createTempDirectory("graft-stream").toString
    // events with a real TimestampType ts (Tables.events normalizes ts to
    // epoch-nanos BIGINT whatever vintage the driver wrote)
    val batch = graft.util.Tables.events(s, sf0001)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select("ts", "event_type", "value")
    batch.repartition(3).write.mode("overwrite").parquet(dir)

    val stream = StreamOps.eventStream(s, dir, batch.schema)
    val streamed = StreamOps.runToMemory(
      s,
      StreamOps.tumblingCounts(stream, "ts", "1 hour", "0 seconds").writeStream,
      "tumbling_test",
    ).collect().map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap

    val expected = batch
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap

    assert(streamed === expected)
    assert(streamed.nonEmpty)
  }

  test("flatMapGroupsWithState: running-outlier state spans micro-batches, equals batch twin") {
    val s = spark
    import s.implicits._
    import StreamOps.{KeyedValue, OutlierFlag}
    val dir = Files.createTempDirectory("graft-state").toString
    // batch 1: 30 calm rows per user build the running moments; batch 2:
    // a spike that is only flaggable USING STATE carried from batch 1
    val calm = (0 until 30).flatMap(i => Seq(
      KeyedValue(1L, i.toLong, i.toLong, 10.0 + (i % 3)),
      KeyedValue(2L, i.toLong, 1000L + i, 20.0 + (i % 5)),
    ))
    val late = Seq(
      KeyedValue(1L, 100L, 100L, 500.0), // spike → flagged
      KeyedValue(1L, 101L, 101L, 10.0), // calm → not flagged
      KeyedValue(2L, 100L, 1100L, 20.0),
    )
    calm.toDS().coalesce(1).write.mode("overwrite").parquet(dir)
    val firstFiles = new java.io.File(dir).listFiles().map(_.toPath)
    firstFiles.foreach(p => Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L)))
    late.toDS().coalesce(1).write.mode("append").parquet(dir)
    new java.io.File(dir).listFiles().map(_.toPath)
      .filterNot(firstFiles.contains).foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000000100000L)))

    val stream = s.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[KeyedValue]].schema)
      .option("maxFilesPerTrigger", "1") // force one file per micro-batch
      .parquet(dir)
      .as[KeyedValue]
    val streamed = StreamOps.runToMemoryAppend(
      s,
      StreamOps.runningOutliers(stream, z = 3.0, minHistory = 10).toDF().writeStream,
      "state_test",
    ).as[OutlierFlag].collect().sortBy(_.event_id)

    val batchTwin = StreamOps
      .runningOutliersBatch((calm ++ late).toDS(), z = 3.0, minHistory = 10)
      .collect().sortBy(_.event_id)

    assert(streamed.nonEmpty, "the cross-batch spike must be flagged")
    assert(streamed.map(f => (f.user_id, f.event_id, f.value)).toSeq ===
      batchTwin.map(f => (f.user_id, f.event_id, f.value)).toSeq)
    assert(streamed.exists(f => f.event_id == 100L && f.user_id == 1L))
    // zscores agree to double precision
    streamed.zip(batchTwin).foreach { case (a, b) =>
      assert(math.abs(a.zscore - b.zscore) < 1e-12)
    }
  }

  test("streamingContextPack: per-lang running cumsum spans micro-batches, equals batch operator") {
    val s = spark
    import s.implicits._
    import StreamOps.PackDoc
    val dir = Files.createTempDirectory("graft-pack").toString
    // batch 1: low doc_ids; batch 2: continuations whose pack_id is only
    // right if the per-lang token cumsum CARRIED OVER from batch 1
    val b1 = Seq(
      PackDoc(0L, "en", 3L), PackDoc(1L, "en", 2L), PackDoc(2L, "fr", 5L))
    val b2 = Seq(
      PackDoc(3L, "en", 4L), PackDoc(4L, "fr", 1L), PackDoc(5L, "en", 2L))
    b1.toDS().coalesce(1).write.mode("overwrite").parquet(dir)
    val firstFiles = new java.io.File(dir).listFiles().map(_.toPath)
    firstFiles.foreach(p => Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L)))
    b2.toDS().coalesce(1).write.mode("append").parquet(dir)
    new java.io.File(dir).listFiles().map(_.toPath)
      .filterNot(firstFiles.contains).foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000000100000L)))

    val stream = s.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[PackDoc]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[PackDoc]
    val streamed = StreamOps.runToMemoryAppend(
        s, StreamOps.streamingContextPack(stream, budget = 4L).toDF().writeStream,
        "pack_test")
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    // batch operator over the union of both files
    val docsDf = (b1 ++ b2).map(p =>
        (p.doc_id, Seq.fill(p.tokens.toInt)("w").mkString(" "), p.lang))
      .toDF("doc_id", "text", "lang")
    val batch = graft.text.RetrievalOps.contextPack(docsDf, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(streamed === batch)
    // doc 3 ("en", start 5) must land in pack 1 — provable only with state
    assert(streamed.contains((3L, 1L, 1L)))
  }

  test("streamingContextPackSharded: (lang, shard) state spans micro-batches, equals sharded batch") {
    val s = spark
    import s.implicits._
    import StreamOps.PackDoc
    val dir = Files.createTempDirectory("graft-packsh").toString
    // doc_ids chosen so both en shards (mod 3) get a batch-2 continuation
    // whose pack_id is only right if that shard's own cumsum carried over
    val b1 = Seq(
      PackDoc(0L, "en", 3L), PackDoc(3L, "en", 2L), PackDoc(1L, "en", 2L),
      PackDoc(2L, "fr", 5L))
    val b2 = Seq(
      PackDoc(6L, "en", 4L), PackDoc(9L, "en", 3L), PackDoc(5L, "fr", 1L))
    b1.toDS().coalesce(1).write.mode("overwrite").parquet(dir)
    val firstFiles = new java.io.File(dir).listFiles().map(_.toPath)
    firstFiles.foreach(p => Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L)))
    b2.toDS().coalesce(1).write.mode("append").parquet(dir)
    new java.io.File(dir).listFiles().map(_.toPath)
      .filterNot(firstFiles.contains).foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000000100000L)))
    val stream = s.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[PackDoc]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[PackDoc]
    val streamed = StreamOps.runToMemoryAppend(
        s, StreamOps.streamingContextPackSharded(stream, budget = 4L,
          numShards = 3).toDF().writeStream,
        "packsh_test")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(5))).toSet
    val docsDf = (b1 ++ b2).map(p =>
        (p.doc_id, Seq.fill(p.tokens.toInt)("w").mkString(" "), p.lang))
      .toDF("doc_id", "text", "lang")
    val batch = graft.text.RetrievalOps.contextPack(docsDf, 4L, numShards = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(5))).toSet
    assert(streamed === batch)
    // en shard 0 is docs 0, 3, 6, 9: doc 6 arrives in batch 2 with start
    // 5 (= 3 + 2 tokens from batch 1) → pack 1 offset 1 — provable only
    // with shard-0 state carried over; doc 9 start 9 → pack 2 offset 1
    assert(streamed.contains((6L, 0L, 1L, 1L)))
    assert(streamed.contains((9L, 0L, 2L, 1L)))
  }

  test("streamingAssembly: split + stratified sample over a stream equal the batch twin") {
    val s = spark
    val dir = Files.createTempDirectory("graft-assembly").toString
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "text")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    def assemble(df: org.apache.spark.sql.DataFrame) = StreamOps
      .streamingAssembly(df, "doc_id", "lang", "graft-v1",
        Seq("train" -> 900, "val" -> 50, "test" -> 50),
        Map("en" -> 250, "fr" -> 1000), defaultPerMill = 500)
      .select("doc_id", "lang", "split")
    val stream = s.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1") // several micro-batches
      .parquet(dir)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val streamed = key(StreamOps.runToMemoryAppend(
      s, assemble(stream).writeStream, "assembly_test").collect())
    val batch = key(assemble(docs).collect())
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    assert(streamed.values.map(_._2).toSet === Set("train", "val", "test"))
  }

  test("streamingDedup suppresses duplicate keys within the watermark") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-dedup").toString
    val batch = Seq(
      ("2024-01-01 00:00:01", "k1", 1.0),
      ("2024-01-01 00:00:02", "k1", 2.0), // dup key
      ("2024-01-01 00:00:03", "k2", 3.0),
      ("2024-01-01 00:00:04", "k2", 4.0), // dup key
      ("2024-01-01 00:00:05", "k3", 5.0),
    ).toDF("tss", "k", "value")
      .select(to_timestamp(col("tss")).as("ts"), col("k"), col("value"))
    batch.repartition(2).write.mode("overwrite").parquet(dir)
    val streamed = StreamOps.runToMemoryAppend(
      s,
      StreamOps.streamingDedup(
        StreamOps.eventStream(s, dir, batch.schema), "ts", Seq("k"), "10 seconds")
        .writeStream,
      "dedup_test",
    )
    // one row per distinct key survives
    assert(streamed.select("k").as[String].collect().sorted === Array("k1", "k2", "k3"))
  }

  test("sessionize groups by inactivity gap identically in batch") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("2024-01-01 00:00:00", "u1", 1.0),
      ("2024-01-01 00:10:00", "u1", 2.0), // same session (gap < 30 min)
      ("2024-01-01 01:30:00", "u1", 3.0), // new session
      ("2024-01-01 00:05:00", "u2", 4.0),
    ).toDF("tss", "user_id", "value")
      .select(to_timestamp(col("tss")).as("ts"), col("user_id"), col("value"))
    val sess = StreamOps.sessionize(df, "ts", "user_id", "30 minutes")
      .orderBy("user_id", "session_start").collect()
    assert(sess.length === 3)
    val u1 = sess.filter(_.getAs[String]("user_id") == "u1")
    assert(u1.map(_.getAs[Long]("n_events")).toSeq === Seq(2L, 1L))
    assert(u1.head.getAs[Double]("sum_value") === 3.0)
  }

  test("streamingQualityScore: frozen-model ppl over a stream equals the corpus-model batch twin") {
    val s = spark
    val dir = Files.createTempDirectory("graft-qscore").toString
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    // freeze the model ON the same corpus: every token in-vocab, so the
    // stateless frozen-model scorer must reproduce q82's corpus-model
    // perplexities exactly (same int64 quantization, same fold)
    val model = StreamOps.unigramModel(docs)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val streamed = StreamOps.runToMemoryAppend(s,
        StreamOps.streamingQualityScore(stream, model, oovLnpFp = -30000000000L)
          .writeStream, "qscore_test")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.text.RetrievalOps.unigramPerplexity(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed === batch)
    // out-of-vocabulary tokens take the floor penalty: a gibberish doc
    // scores exp(30) under the frozen model
    val odd = {
      import s.implicits._
      Seq((999L, "zzqx zzqx")).toDF("doc_id", "text")
    }
    val oov = StreamOps.streamingQualityScore(odd, model, -30000000000L)
      .collect().head.getDouble(2)
    assert(math.abs(oov - math.rint(math.exp(30.0) * 1e6) / 1e6) < 1e-3)
  }

  test("unigramModelCapped: identical to exact when V covers the vocab; one-sided drift when it binds") {
    val s = spark
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val exact = StreamOps.unigramModel(docs)
    // cap above the vocabulary: the serving model IS the exact model
    val roomy = StreamOps.unigramModelCapped(docs, exact.size + 100)
    assert(roomy === exact)
    // cap binding: retained terms keep their exact ln p (normalization is
    // still the FULL total), and every score drifts only TOWARD the floor
    val capped = StreamOps.unigramModelCapped(docs, exact.size / 2)
    assert(capped.size == exact.size / 2)
    capped.foreach { case (t, lnp) => assert(lnp == exact(t), t) }
    val floor = -30000000000L
    val e = StreamOps.streamingQualityScore(docs, exact, floor)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val c = StreamOps.streamingQualityScore(docs, capped, floor)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    e.foreach { case (id, ppl) =>
      assert(c(id) >= ppl - 1e-9,
        s"doc $id: capped ppl ${c(id)} moved AWAY from the floor vs $ppl")
    }
    assert(e.exists { case (id, ppl) => c(id) > ppl + 1e-9 },
      "a binding cap must actually shift some document")
  }

  test("streaming heavy hitters: bounded sketch state across micro-batches equals batch q88") {
    val s = spark
    val dir = Files.createTempDirectory("graft-hh").toString
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    // SAME body as the batch operator over readStream: the sketch is the
    // streaming state — ONE capacity-counter summary in the state store
    // regardless of stream length or vocabulary growth (complete mode).
    // Exact regime (capacity > vocab) ⇒ the emitted top-k must equal
    // batch q88 on the same files bit-for-bit.
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val streamed = StreamOps.runToMemory(s,
        graft.text.RetrievalOps.heavyHitters(stream, capacity = 64, k = 20)
          .writeStream, "hh_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val batch = graft.text.RetrievalOps.heavyHitters(docs, capacity = 64, k = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  test("streaming BPE segmentation: frozen merges over a stream equal the batch twin") {
    val s = spark
    val dir = Files.createTempDirectory("graft-stream-bpe").toString
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    // train once on the batch corpus; serve the FROZEN table over arrivals
    val ms = graft.text.BpeOps.merges(docs, rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(ms.nonEmpty)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val streamed = StreamOps.runToMemoryAppend(
      s, graft.text.BpeOps.segmentCountsWith(stream, ms).writeStream,
      "bpeseg_test")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.text.BpeOps.segmentCountsWith(docs, ms)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("streaming standing-index admission equals the sequential batch loop (3 micro-batches)") {
    import graft.dedup.DedupOps
    val s = spark
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 >= 4)
    // synthetic cross-batch exact dup: 900002 is a dup of 900001, which is
    // ADMITTED in batch 1 — batch 2 can only flag it if the append ran
    val syn = "synthetic standing admission probe text unique tokens qq ww ee rr tt yy"
    val fixture = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val batches: Seq[Seq[(Long, String)]] = Seq(
      fixture.filter(_._1 % 10 == 0).toSeq :+ (900001L, syn),
      fixture.filter(_._1 % 10 == 1).toSeq :+ (900002L, syn),
      fixture.filter(r => r._1 % 10 == 2 || r._1 % 10 == 3).toSeq,
    )
    def freshIndex(name: String): Unit = {
      Seq("bands", "docs", "texts", "meta")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
      DedupOps.buildBandIndex(s, corpus, name, shingleK = 3, numHashes = 16,
        rowsPerBand = 4, location = s"/tmp/$name", buckets = 4)
    }
    import s.implicits._
    // batch reference: the explicit probe→admit→append loop
    freshIndex("graft_test_admit_ref")
    val ref = batches.flatMap { rows =>
      val b = rows.toDF("doc_id", "text")
      val v = DedupOps.probeBandIndex(s, b, "graft_test_admit_ref", 0.5)
        .localCheckpoint()
      val admitted = b.join(v.filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      DedupOps.appendToBandIndex(s, admitted, "graft_test_admit_ref")
      v.collect().map(_.toString)
    }.sorted
    // streaming: the same batches through the foreachBatch sink
    freshIndex("graft_test_admit_str")
    val out = java.nio.file.Files.createTempDirectory("graft-admit").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamOps.streamingStandingAdmission(
      ms.toDF().toDF("doc_id", "text"), "graft_test_admit_str", 0.5, out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted
    assert(got.nonEmpty && got === ref)
    // the cross-batch admission visibly worked: 900001 kept, 900002 exact-dup
    val byId = s.read.parquet(out).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(3)))).toMap
    assert(byId(900001L) === ((false, true)), "batch-1 synthetic should be admitted")
    assert(byId(900002L) === ((true, false)), "batch-2 dup of an admitted doc must be flagged")
  }

  test("streaming vector admission equals the sequential batch loop (3 micro-batches)") {
    import graft.similarity.SimilarityOps
    val s = spark
    val emb = s.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") % 10 >= 4)
    // synthetic cross-batch dup: 900002 is the SAME vector as 900001,
    // which is ADMITTED in batch 1 — batch 2 can only flag it if the
    // bucket-aligned append ran between batches
    val syn: Seq[Float] = Seq.tabulate(64)(j => math.sin(j * 0.37).toFloat)
    val fixture = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val batches: Seq[Seq[(Long, Seq[Float])]] = Seq(
      fixture.filter(_._1 % 10 == 0).toSeq :+ (900001L -> syn),
      fixture.filter(_._1 % 10 == 1).toSeq :+ (900002L -> syn),
      fixture.filter(r => r._1 % 10 == 2 || r._1 % 10 == 3).toSeq,
    )
    def freshIndex(name: String): Unit = {
      Seq("cells", "cents", "meta")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
      SimilarityOps.buildVecIndex(s, corpus, name, nCentroids = 8,
        location = s"/tmp/$name", buckets = 4)
    }
    import s.implicits._
    // batch reference: the explicit probe→admit→append loop
    freshIndex("graft_test_vadmit_ref")
    val ref = batches.flatMap { rows =>
      val b = rows.toDF("vec_id", "embedding")
      val v = SimilarityOps
        .probeVecIndex(s, b, "graft_test_vadmit_ref", nProbe = 2, threshold = 0.9)
        .localCheckpoint()
      val admitted = b.join(v.filter(col("keep")).select("vec_id"),
        Seq("vec_id"), "left_semi")
      SimilarityOps.appendToVecIndex(s, admitted, "graft_test_vadmit_ref")
      v.collect().map(_.toString)
    }.sorted
    // streaming: the same batches through the foreachBatch sink
    freshIndex("graft_test_vadmit_str")
    val out = Files.createTempDirectory("graft-vadmit").toString + "/v"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.streamingVecAdmission(
      ms.toDF().toDF("vec_id", "embedding"), "graft_test_vadmit_str",
      nProbe = 2, threshold = 0.9, out).start()
    try {
      batches.foreach { rows => ms.addData(rows); q.processAllAvailable() }
    } finally q.stop()
    val got = s.read.parquet(out).collect().map(_.toString).sorted
    assert(got.nonEmpty && got === ref)
    val byId = s.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getBoolean(2))).toMap
    assert(byId(900001L) === ((-1L, true)), "batch-1 synthetic should be admitted")
    assert(byId(900002L) === ((900001L, false)),
      "batch-2 copy of an admitted vector must be flagged against it")
  }

  test("streaming KMV distinct: bounded sketch state across micro-batches equals batch q100") {
    val s = spark
    val dir = Files.createTempDirectory("graft-kmv").toString
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "text")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    import graft.functions.KmvDistinct.kmv_distinct
    import graft.functions.Hashing
    def est(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .select(col("lang"), Hashing.poly_hash(col("term")).as("h"))
      .groupBy("lang")
      .agg(kmv_distinct(col("h"), 64, graft.text.TextOps.P).as("est"))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // complete-mode aggregate: the sketch IS the streaming state — one
    // k-longs buffer per language forever, set-semantics deterministic
    val streamed = StreamOps.runToMemory(s, est(stream).writeStream, "kmv_test")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = est(docs).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("streamingContamination: stateless ingest-time flags equal the batch operator") {
    val s = spark
    val dir = Files.createTempDirectory("graft-stream-decon").toString
    val docs = s.read.parquet(s"$sf0001/documents.parquet")
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    train.select("doc_id", "text").repartition(3).write.mode("overwrite").parquet(dir)

    val grams = StreamOps.evalGramSet(evalDocs, shingleK = 5)
    assert(grams.nonEmpty)
    val stream = s.readStream
      .schema(train.select("doc_id", "text").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val streamed = StreamOps.runToMemoryAppend(
      s,
      StreamOps.streamingContamination(stream, grams, shingleK = 5).writeStream,
      "decon_test",
    ).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val batch = graft.dedup.DedupOps.contaminationFlags(train, evalDocs, shingleK = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("extractFeatures is deterministic and fixed-width") {
    val s = spark
    import s.implicits._
    val media = Seq((1L, "hello world"), (2L, "hello world"), (3L, "xyz"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val f = MultimodalOps.extractFeatures(s, media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    assert(f(1L)._1 === 11L)
    assert(f(1L)._2 === f(2L)._2) // same bytes → same features
    assert(f(1L)._2 !== f(3L)._2)
    assert(f.values.forall(_._2.length === MultimodalOps.FeatureDim))
    assert(f.values.forall(_._2.forall(v => v >= 0.0 && v < 1.0)))
  }

  test("sampleFrames yields stride-spaced fixed-size frames") {
    val s = spark
    import s.implicits._
    val media = Seq((1L, "a" * 300)).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val frames = MultimodalOps.sampleFrames(media, frameBytes = 64, stride = 2).collect()
    // 300 bytes → 4 full frames (0..3), stride 2 → indices 0, 2
    assert(frames.map(_.getAs[Long]("frame_idx")).toSeq.sorted === Seq(0L, 2L))
    frames.foreach(r => assert(r.getAs[Array[Byte]]("frame").length === 64))
  }

  test("streamingScrub + streamingIntraDedup: stateless twins equal the batch bodies") {
    val s = spark
    val dir = Files.createTempDirectory("graft-scrub").toString
    val docs = s.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val pats = Seq(("entity", "\\bcustomer\\b", "<ENTITY>"))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(StreamOps.runToMemoryAppend(s,
        StreamOps.streamingScrub(stream, pats).writeStream, "scrub_test"))
      == rows(graft.text.CurationOps.piiScrub(docs, pats)))
    assert(rows(StreamOps.runToMemoryAppend(s,
        StreamOps.streamingIntraDedup(stream, 2).writeStream, "intradedup_test"))
      == rows(graft.text.CurationOps.intraDocDedup(docs, 2)))
  }

  test("streamingExternalStage: micro-batched subprocess pipe equals the batch pipe") {
    val s = spark
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-extst").toString
    val out = Files.createTempDirectory("graft-extst-out").toString + "/v"
    val docs = s.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("up", StringType)))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.streamingExternalStage(stream, Seq("tr", "a-z", "A-Z"),
        schema, out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = s.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val batch = graft.util.ExternalStage.pipeTsv(docs, Seq("tr", "a-z", "A-Z"), schema)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming keyframe gate: state spans batches, equals the q186 relation exactly") {
    val s = spark
    import s.implicits._
    val still = ("the same slow scene byte for byte " * 2).take(64)
    val cut = ("completely different content after a hard scene cut here " * 2).take(64)
    // decode order: batch 1 = frames 0-1, batch 2 = frames 2-3 + video 20
    val all = Seq(
      (10L, 0L, still), (10L, 1L, still),
      (10L, 2L, still), (10L, 3L, cut),
      (20L, 0L, still),
    )
    def frameDf(rows: Seq[(Long, Long, String)]) =
      rows.toDF("doc_id", "frame_idx", "ftext")
        .select(col("doc_id"), col("frame_idx"),
          org.apache.spark.sql.functions.encode(col("ftext"), "UTF-8").as("frame"))
    def toIn(rows: Seq[(Long, Long, String)]) =
      frameDf(rows)
        .select(col("doc_id"), col("frame_idx"),
          graft.functions.BinaryExprs.phash64(col("frame")).as("ph"))
        .as[StreamOps.FrameIn].collect().toSeq
    // the q186 batch relation is the ground truth
    val expected = graft.queries.Multimodal.keyframeDedupCore(frameDf(all), tau = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))).toMap
    // batch twin on FrameIn rows
    val batchTwin = StreamOps
      .keyframeGateBatch(toIn(all).toDS(), tau = 3)
      .collect().map(v => (v.doc_id, v.frame_idx) -> ((v.dup_of, v.kept))).toMap
    assert(batchTwin === expected)
    // streaming: frame 2's suppressor (frame 0) lives in the PRIOR batch
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamOps.FrameIn]
    val q = StreamOps.streamingKeyframeGate(ms.toDS(), tau = 3)
      .writeStream.format("memory").queryName("kf_gate_test")
      .outputMode("append").start()
    try {
      ms.addData(toIn(all.take(2))); q.processAllAvailable()
      ms.addData(toIn(all.drop(2))); q.processAllAvailable()
      val got = s.table("kf_gate_test").as[StreamOps.FrameVerdict]
        .collect().map(v => (v.doc_id, v.frame_idx) -> ((v.dup_of, v.kept))).toMap
      assert(got === expected, "stream verdicts must equal the q186 relation")
      assert(got((10L, 2L)) === ((Some(0L), false)),
        "cross-batch suppression must cite the batch-1 frame")
    } finally q.stop()
  }
}
