package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL registration for every native graft expression, so `spark.sql`
  * users get the same surface as the Column API:
  *
  * {{{
  *   GraftFunctions.registerAll(spark)
  *   spark.sql("SELECT simhash32(text), poly_hash(text) FROM docs")
  * }}}
  *
  * Integer-parameter expressions (k, bits, bands) take foldable literal
  * arguments in SQL and fail registration-time-cheap if handed anything
  * else.
  */
object GraftFunctions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  private def strLits(e: Expression, fn: String): Seq[String] = e match {
    case l @ Literal(v, _) if v != null && l.dataType.typeName == "string" =>
      Seq(v.toString)
    case other => throw new IllegalArgumentException(
      s"$fn expects non-null literal STRING arguments, got $other")
  }

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def add(name: String)(builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")

    TCdf.register(spark)
    add("ntz_micros")(e => NtzMicros(e.head))
    add("poly_hash")(e => Hashing.PolyHashString(e.head))
    add("poly_hash_longs")(e => Hashing.PolyHashLongs(e.head))
    add("min_gram_hash")(e => Hashing.MinGramHash(e.head, e(1)))
    add("simhash32")(e => TextExprs.SimHash32(e.head))
    add("token_stats")(e =>
      TextExprs.TokenStats(e.head, e.tail.flatMap(strLits(_, "token_stats"))))
    add("shingle_hash_set")(e =>
      TextExprs.ShingleHashSet(e.head, intLit(e(1), "shingle_hash_set")))
    add("seg_dedup")(e =>
      TextExprs.SegDedup(e.head, intLit(e(1), "seg_dedup")))
    add("seg_structs")(e =>
      TextExprs.SegStructs(e.head, intLit(e(1), "seg_structs")))
    add("term_counts")(e => TextExprs.TermCounts(e.head))
    add("chunk_structs")(e =>
      TextExprs.ChunkStructs(e.head, intLit(e(1), "chunk_structs"),
        intLit(e(2), "chunk_structs")))
    add("min_hash_sig")(e =>
      TextExprs.MinHashSig(e.head, intLit(e(1), "min_hash_sig")))
    add("lsh_band_keys")(e =>
      TextExprs.LshBandKeys(e.head, intLit(e(1), "lsh_band_keys")))
    add("intersect_size")(e => TextExprs.IntersectSize(e.head, e(1)))
    add("gram_stats")(e =>
      TextExprs.GramStats(e.head, intLit(e(1), "gram_stats")))
    add("dot_fold")(e => VectorExprs.DotFold(e.head, e(1)))
    add("sign_bucket")(e =>
      VectorExprs.SignBucket(e.head, intLit(e(1), "sign_bucket")))
    add("block_resize")(e =>
      BinaryExprs.BlockResize(e.head, intLit(e(1), "block_resize"),
        intLit(e(2), "block_resize")))
  }
}
