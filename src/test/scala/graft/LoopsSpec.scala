package graft

import org.apache.spark.sql.functions._

/** graft.util.Loops — the loop-state pinning utility the iterative
  * kernels (graph/dFC, delta-CC, tokenizer walks) ride. The over-cap
  * behavior is the r20-ADVICE contract: [[graft.util.Loops.pin]] DEMOTES
  * to the distributed fresh/checkpoint path (same rows, no failure) when
  * a relation outgrows the ceiling, while [[graft.util.Loops.pinRows]]
  * (whose callers consume the rows for fixpoint probes) and
  * [[graft.util.Loops.fold]] (a bounded group-by of a data-sized plan)
  * fail loudly. */
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

  test("fold under the cap equals the group-by as a driver-local relation") {
    val df = spark.range(0, 40, 1, 3).select((col("id") % 6).as("k"), col("id").as("v"))
    val f = graft.util.Loops.fold(df, Seq("k"), Seq("v"), "LoopsSpec.fold", 100)
    val agg = df.groupBy("k").agg(sum("v").as("v")).orderBy("k")
    assert(f.schema == agg.schema)
    assert(f.collect().toSeq == agg.collect().toSeq)
    assert(f.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LocalRelation")))
  }

  /** Run `body` and return what it threw with the number of jobs it ran. */
  private def jobsOf(body: => Any): (Throwable, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(listener)
    val thrown = try { body; null } catch { case e: Throwable => e } finally {
      org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(spark.sparkContext, 10000)
      spark.sparkContext.removeSparkListener(listener)
    }
    (thrown, jobs.get)
  }

  test("fold over the cap inside one partition fails naming the site; the plan runs once") {
    val df = spark.range(0, 50, 1, 1).select(col("id"), (col("id") % 7).as("v"))
    val (e, jobs) = jobsOf(graft.util.Loops.fold(df, Seq("id"), Seq("v"),
      "LoopsSpec.overCap", 10)) // 50 keys in one partition > cap
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage.contains("LoopsSpec.overCap"), e.getMessage)
    assert(jobs == 1, s"$jobs jobs")
  }

  test("fold over the cap only after the merge fails naming the site; the plan runs once") {
    // 3 partitions of 10 distinct keys each: every partial is under the
    // cap, the merged 30 keys are over it
    val df = spark.range(0, 30, 1, 3).select(col("id"), (col("id") % 7).as("v"))
    val (e, jobs) = jobsOf(graft.util.Loops.fold(df, Seq("id"), Seq("v"),
      "LoopsSpec.mergedOverCap", 15))
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage.contains("LoopsSpec.mergedOverCap"), e.getMessage)
    assert(jobs == 1, s"$jobs jobs")
  }

  test("each GLM design gather fails naming its site over its cap") {
    // boxcar and massBetas fold, convolve pins its LocalRelation
    import graft.design.DesignOps
    val s = spark
    import s.implicits._
    // 3 distinct (t, condition) hits > cap 2
    val trials = Seq((0.0, 3.0, "A")).toDF("onset", "duration", "trial_type")
    val box = intercept[IllegalArgumentException](
      DesignOps.boxcar(trials, Seq("A"), 1.0, 5, cap = 2))
    assert(box.getMessage.contains("DesignOps.boxcar"), box.getMessage)
    val dm = (0 until 4).map(t => (t.toLong, 1L)).toDF("t", "x")
    val conv = intercept[IllegalArgumentException](
      DesignOps.convolve(dm, Array(1L), Seq("x"), 4, cap = 3))
    assert(conv.getMessage.contains("DesignOps.convolve"), conv.getMessage)
    val series = (0 until 4).map(t => ("a", t.toLong, BigDecimal(t)))
      .toDF("g", "t", "y_dec").withColumn("y_dec", col("y_dec").cast("decimal(18,2)"))
    val x = Array.tabulate(4, 1)((_, _) => 1.0)
    val betas = intercept[IllegalArgumentException](
      graft.glm.GlmOps.massBetas(series, x, "g", cap = 3))
    assert(betas.getMessage.contains("GlmOps.massBetas"), betas.getMessage)
  }

}
