package graft

import org.apache.spark.sql.functions._

/** graft.util.Loops — the loop-state pinning utility the iterative
  * kernels (graph/dFC, delta-CC, tokenizer walks) ride. The over-cap
  * behavior is the r20-ADVICE contract: [[graft.util.Loops.pin]] DEMOTES
  * to the distributed fresh/checkpoint path (same rows, no failure) when
  * a relation outgrows the ceiling, while [[graft.util.Loops.pinRows]]
  * (whose callers consume the rows for fixpoint probes) fails loudly. */
class LoopsSpec extends SparkSpec {

  test("pin under the cap returns an identical driver-local relation") {
    val df = spark.range(10).select(col("id"), (col("id") * 2).as("v"))
    val p = graft.util.Loops.pinWithCap(df, 100)
    assert(p.collect().toSeq == df.collect().toSeq)
    // driver-local: a LocalRelation leaf, not the original range plan
    assert(p.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LocalRelation")))
  }

  test("pin over the cap demotes to the distributed path, same rows") {
    val df = spark.range(50).select(col("id"), (col("id") % 7).as("v"))
    val p = graft.util.Loops.pinWithCap(df, 10) // 50 rows > cap
    assert(p.count() == 50)
    assert(p.select(sum("v")).head().getLong(0)
      == df.select(sum("v")).head().getLong(0))
    // demoted: NOT a LocalRelation (fresh rebuilds over the RDD)
    assert(!p.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LocalRelation")))
  }

  test("gather under the cap returns df.collect() as a driver-local relation") {
    val df = spark.range(40).select((col("id") % 6).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
    val g = graft.util.Loops.gather(df, "LoopsSpec.gather", 100)
    assert(g.schema == df.schema)
    assert(g.collect().toSeq == df.collect().toSeq)
    assert(g.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LocalRelation")))
  }

  test("gather over the cap fails naming the site — no demotion") {
    val df = spark.range(50).select(col("id"), (col("id") % 7).as("v"))
    val e = intercept[IllegalArgumentException](
      graft.util.Loops.gather(df, "LoopsSpec.overCap", 10)) // 50 rows > cap
    assert(e.getMessage.contains("LoopsSpec.overCap"), e.getMessage)
  }

}
