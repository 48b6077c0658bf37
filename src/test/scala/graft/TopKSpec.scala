package graft

import org.apache.spark.sql.functions._
import graft.plans.{TopKPerKey, TopKPerKeyExec}

/** The top-k-per-key whole-operator extension (logical node + optimizer
  * rewrite + strategy + bounded-heap exec): rule-on results must be
  * IDENTICAL to the WindowExec form on every query that uses the
  * row_number-filter pattern, the rewritten plan must actually contain
  * TopKPerKeyExec, and non-matching window patterns must be left alone.
  */
class TopKSpec extends SparkSpec {

  // queries whose plans contain filter(row_number().over(...) <= k | = 1)
  private val affected = Seq(
    "q27_cosine_topk", "q28_lsh_topk", "q49_ivf_topk",
    "q09_mode_quantity", "q11_top_orders", "q58_lang_quota",
    "q84_kmeans_coreset", "q86_exact_sample", "q118_cluster_quota")

  test("rewrite fires on the quota/coreset windows: no Window survives (r12 item 6)") {
    // q84 (distance rank per trained cell), q86 (salted-hash rank per
    // lang), q118 (salt-hash rank per semantic cell) are all the
    // row_number-filter shape — the rewrite must replace EVERY rank
    // window with the bounded-heap exec, leaving zero WindowExec (and so
    // zero per-key sorts for the rank) in the executed plan
    TopKPerKey.install(spark)
    try {
      for (name <- Seq("q84_kmeans_coreset", "q86_exact_sample", "q118_cluster_quota")) {
        val df = SparkEntry.queries(name)(spark, sf001)
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("TopKPerKey"), s"$name: rewrite did not fire\n${p.take(800)}")
        assert(!p.contains("Window"), s"$name: rank window survived\n${p.take(800)}")
      }
    } finally TopKPerKey.uninstall(spark)
  }

  test("rewrite preserves every affected query's result exactly") {
    for (name <- affected) {
      TopKPerKey.uninstall(spark)
      val off = SparkEntry.queries(name)(spark, sf001).collect()
      TopKPerKey.install(spark)
      try {
        val on = SparkEntry.queries(name)(spark, sf001).collect()
        assert(on.length === off.length, s"$name row count")
        assert(on.toSeq === off.toSeq, s"$name rows differ under rewrite")
      } finally TopKPerKey.uninstall(spark)
    }
  }

  test("rewritten plan contains TopKPerKeyExec and no Window for the rank") {
    TopKPerKey.install(spark)
    try {
      val df = SparkEntry.queries("q27_cosine_topk")(spark, sf001)
      df.count()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKPerKey"), p.take(800))
      assert(!p.contains("Window"), "window survived the rewrite:\n" + p.take(800))
    } finally TopKPerKey.uninstall(spark)
  }

  test("bounded heap emits exact row_number ranks incl. short groups and ties") {
    val s = spark
    import s.implicits._
    TopKPerKey.install(s)
    try {
      // group 1: 5 rows with a tie on v broken by id; group 2: fewer than k
      val df = Seq(
        (1, 10, 1L), (1, 30, 2L), (1, 30, 3L), (1, 20, 4L), (1, 40, 5L),
        (2, 7, 6L),
      ).toDF("g", "v", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val out = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy("g", "rank")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      assert(out.toSeq === Seq(
        (1, 40, 5L, 1), (1, 30, 2L, 2), (1, 30, 3L, 3),
        (2, 7, 6L, 1)))
      // and the plan really used the custom exec
      val p = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3).queryExecution.executedPlan
      assert(p.exists(_.isInstanceOf[TopKPerKeyExec]) ||
        p.toString.contains("TopKPerKey"))
    } finally TopKPerKey.uninstall(s)
  }

  test("partial-mode flush: key cardinality ≫ flush threshold, results exact") {
    val s = spark
    import s.implicits._
    TopKPerKey.install(s)
    try {
      // 2000 distinct keys × 5 rows through a 7-row flush threshold: every
      // map-side heap map drains hundreds of times per partition, yet the
      // final ranked output must equal the WindowExec form exactly
      val df = s.range(0, 10000).select(
        (col("id") % 2000).as("g"),
        (col("id") * 37 % 101).as("v"),
        col("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val q = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
      s.conf.set("spark.graft.topk.partialFlushRows", "7")
      val flushed = try q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      finally s.conf.unset("spark.graft.topk.partialFlushRows")
      TopKPerKey.uninstall(s)
      val exact = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      assert(flushed.sortBy(t => (t._1, t._4)).toSeq === exact.sortBy(t => (t._1, t._4)).toSeq)
      assert(exact.length === 2000 * 2)
    } finally TopKPerKey.uninstall(s)
  }

  test("non-rank window patterns are not rewritten") {
    val s = spark
    import s.implicits._
    TopKPerKey.install(s)
    try {
      val df = Seq((1, 10), (1, 20), (2, 5)).toDF("g", "v")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("v")
      // rank() (not row_number) must stay a Window
      val r = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 1)
      assert(r.queryExecution.executedPlan.toString.contains("Window"))
      assert(r.collect().length === 2)
      // row_number with a non-literal bound must stay a Window
      val r2 = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= col("v"))
      assert(r2.queryExecution.executedPlan.toString.contains("Window"))
    } finally TopKPerKey.uninstall(s)
  }
}
