package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import graft.text.CurationOps
import graft.util.{Snapshots, Tables}

/** Metadata derived once per file snapshot (graft.util.Snapshots). Each
  * case fails on a memo keyed by path or table name alone:
  *
  *  - an overwrite with a new schema is seen on the next read;
  *  - two reads of one path are distinct Datasets that self-join;
  *  - the standing DSIR model refits after an append and after a
  *    compaction swap (probe ≡ a direct fit on the admitted union);
  *  - a store guard sees a rewritten meta seal and a dropped table;
  *  - the session's parquet-inference confs are part of the key, also
  *    under 8 concurrent readers.
  */
class SnapshotsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One parquet file with an UNANNOTATED binary column, written without
    * Spark's schema metadata — so `spark.sql.parquet.binaryAsString`
    * decides whether `b` infers as binary or string. */
  private def writeRawBinary(path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary b; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path + "/part-0.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try {
      val f = new SimpleGroupFactory(schema)
      w.write(f.newGroup().append("id", 1L).append("b", Binary.fromString("x")))
    } finally w.close()
  }

  private def withConf(binaryAsString: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.binaryAsString", binaryAsString.toString)
    s
  }

  test("an overwrite with a different schema is seen on the next read") {
    val s = spark
    import s.implicits._
    val p = tmp("graft-snap-ow") + "/t"
    Seq((1L, "a")).toDF("id", "a").write.parquet(p)
    val first = Snapshots.parquet(spark, p)
    assert(first.schema == spark.read.parquet(p).schema)
    assert(Snapshots.parquet(spark, p).collect().toSeq == Seq(Row(1L, "a")))
    Seq((2L, 0.5)).toDF("id", "b").write.mode("overwrite").parquet(p)
    val second = Snapshots.parquet(spark, p)
    assert(second.schema == spark.read.parquet(p).schema)
    assert(second.schema.fieldNames.toSeq == Seq("id", "b"))
    assert(second.collect().toSeq == Seq(Row(2L, 0.5)))
  }

  test("a nested directory tree snapshots every file, and a deep append changes it") {
    val s = spark
    import s.implicits._
    val p = tmp("graft-snap-nested") + "/t"
    Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "a", "k").write.partitionBy("k").parquet(p)
    Seq((3L, "c")).toDF("id", "a").write.parquet(p + "/k=3/sub")
    // the reference: Hadoop's recursive listFiles over the same tree
    def listed(): Vector[(String, Long, Long)] = {
      val path = new org.apache.hadoop.fs.Path(p)
      val it = path.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(path, true)
      val b = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        b += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
      b.result().sorted
    }
    val first = Snapshots.snapshot(spark, p)
    assert(first == listed())
    assert(first.exists(_._1.contains("/k=3/sub/part-")), first)
    Seq((4L, "d")).toDF("id", "a").write.mode("append").parquet(p + "/k=3/sub")
    val second = Snapshots.snapshot(spark, p)
    assert(second == listed())
    assert(second.size > first.size)
    // a file path snapshots itself; a missing path is empty
    val file = first.find(_._1.endsWith(".parquet")).get._1
    assert(Snapshots.snapshot(spark, file) == first.filter(_._1 == file))
    assert(Snapshots.snapshot(spark, p + "/missing").isEmpty)
  }

  test("two Tables.documents reads are distinct Datasets and self-join") {
    val s = spark
    import s.implicits._
    val d = tmp("graft-snap-docs")
    Seq((1L, "alpha beta", "en"), (2L, "rot grun", "de"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$d/documents.parquet")
    val a = Tables.documents(spark, d)
    val b = Tables.documents(spark, d)
    val pairs = a.join(b, a("doc_id") === b("doc_id") + 1)
      .select(a("doc_id"), b("lang")).collect()
    assert(pairs.toSeq == Seq(Row(2L, "en")))
  }

  // ---- the standing DSIR model, refit per counts snapshot ----

  private val B = 64
  private val isEn = col("lang") === "en"
  private val sliceA = Seq((1L, "alpha beta gamma alpha beta", "en"),
    (3L, "rot grun blau rot grun", "de"))
  private val sliceB = Seq((4L, "alpha beta alpha beta alpha", "en"),
    (5L, "grun blau rot grun blau", "de"))
  private val sliceC = Seq((6L, "gamma gamma alpha beta", "en"),
    (7L, "blau blau rot", "de"))
  private val arrivals = Seq((11L, "alpha beta gamma alpha"),
    (12L, "rot grun blau rot"), (13L, "nova vocab terra nova"))

  private def docs(rows: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  private def build(name: String, rows: Seq[(Long, String, String)]): Unit = {
    Seq("counts", "docs", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    CurationOps.buildDsirStore(spark, docs(rows), isEn, name, B,
      location = tmp(s"graft-snap-$name"), datasetTag = "fix")
  }

  private def probe(name: String): Seq[String] = {
    val s = spark
    import s.implicits._
    CurationOps.probeDsirScore(spark, arrivals.toDF("doc_id", "text"), name)
      .collect().map(_.toString).sorted.toSeq
  }

  /** The probe of a store built in one go from `rows` — named by its
    * size, so no two different row sets ever share a store name. */
  private def directFit(rows: Seq[(Long, String, String)]): Seq[String] = {
    val name = s"graft_snap_dsir_direct${rows.size}"
    build(name, rows)
    probe(name)
  }

  test("DSIR: probe → append → probe equals a direct fit on the union") {
    val name = "graft_snap_dsir_append"
    build(name, sliceA)
    val before = probe(name)
    assert(before == directFit(sliceA))
    CurationOps.appendToDsirStore(spark, docs(sliceB), isEn, name)
    val after = probe(name)
    assert(after != before)
    assert(after == directFit(sliceA ++ sliceB))
  }

  test("DSIR: the model refits after a compaction swap and after appends to it") {
    val name = "graft_snap_dsir_compact"
    build(name, sliceA)
    assert(probe(name) == directFit(sliceA))
    CurationOps.appendToDsirStore(spark, docs(sliceB), isEn, name)
    CurationOps.compactDsirStore(spark, name)
    assert(probe(name) == directFit(sliceA ++ sliceB))
    CurationOps.appendToDsirStore(spark, docs(sliceC), isEn, name)
    assert(probe(name) == directFit(sliceA ++ sliceB ++ sliceC))
  }

  test("a store guard sees a rewritten meta seal and a dropped table") {
    val s = spark
    import s.implicits._
    val name = "graft_snap_dsir_guard"
    val loc = tmp("graft-snap-guard")
    Seq("counts", "docs", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    CurationOps.buildDsirStore(spark, docs(sliceA), isEn, name, B,
      location = loc, datasetTag = "v1")
    assert(CurationOps.dsirStoreMatches(spark, name, "v1"))
    Seq((B, "v2")).toDF("buckets", "dataset_tag")
      .write.mode("overwrite").option("path", s"$loc/meta")
      .saveAsTable(s"${name}_meta")
    assert(!CurationOps.dsirStoreMatches(spark, name, "v1"))
    assert(CurationOps.dsirStoreMatches(spark, name, "v2"))
    spark.sql(s"DROP TABLE ${name}_docs")
    assert(!CurationOps.dsirStoreMatches(spark, name, "v2"))
  }

  // ---- parquet-inference confs are part of the key ----

  test("flipping spark.sql.parquet.binaryAsString changes the schema returned") {
    val p = tmp("graft-snap-bin") + "/t"
    writeRawBinary(p)
    val asBinary = withConf(binaryAsString = false)
    val asString = withConf(binaryAsString = true)
    assert(Snapshots.parquet(asBinary, p).schema("b").dataType == BinaryType)
    assert(Snapshots.parquet(asString, p).schema("b").dataType == StringType)
    assert(Snapshots.parquet(asBinary, p).schema("b").dataType == BinaryType)
    assert(Snapshots.parquet(asString, p).collect().toSeq == Seq(Row(1L, "x")))
  }

  test("8 concurrent readers of one path all get their session's schema") {
    val p = tmp("graft-snap-conc") + "/t"
    writeRawBinary(p)
    val sessions = (0 until 8).map(i => withConf(binaryAsString = i % 2 == 1))
    val expected = sessions.map(_.read.parquet(p).schema)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = sessions.map(s => pool.submit(new Callable[Seq[StructType]] {
        def call(): Seq[StructType] = (1 to 5).map(_ => Snapshots.parquet(s, p).schema)
      })).map(_.get(120, TimeUnit.SECONDS))
      got.zip(expected).foreach { case (schemas, want) =>
        assert(schemas.forall(_ == want))
      }
      assert(got.flatten.distinct.size == 2)
      assert(expected(0)("b").dataType == BinaryType)
      assert(expected(1)("b").dataType == StringType)
    } finally pool.shutdown()
  }
}
