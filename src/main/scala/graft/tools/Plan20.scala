package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the r20 optimization round's plan-evidence artifact
  * (plans/r20/<query>_{before,after}.txt).
  *
  * args: outDir suffix sfDir name[,name...]
  *   e.g. runMain graft.tools.ProbePlan plans/r20 before /root/testdata/sf0.1 q196,q239
  * Prefix match like SPARK_GRAFT_ONLY. */
object ProbePlan {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r20")
    val suffix = args.lift(1).getOrElse("before")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val prefixes = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopKPerKey.install(spark)
    Files.createDirectories(Paths.get(outDir))
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if prefixes.forall(_.exists(name.startsWith))) {
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plan] $name -> $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}

/** Per-query Spark job/stage/task accounting: runs named queries once
  * (after one warm pass) with a listener counting jobs, stages, tasks and
  * summed task time — attributes a slow query to "many tiny driver-bound
  * jobs" vs "few heavy stages" without the UI.
  *
  * args: sfDir name[,name...]  (prefix match) */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = args.lift(1).map(_.split(",").map(_.trim).toSet)
    val b0 = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val b1 = b0.config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MPS",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "512k")))
    // probe knob: bound the fan-out of Range/LocalRelation leaves (see
    // Bench's SPARK_GRAFT_LEAF_PAR note)
    val b = sys.env.get("SPARK_GRAFT_LEAF_PAR").fold(b1)(v =>
      b1.config("spark.sql.leafNodeDefaultParallelism", v))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopKPerKey.install(spark)
    // AtomicLong, not @volatile var: listener callbacks run on the async
    // listener-bus thread and += on a volatile is a lost-update race
    // (r20 ADVICE) — the counts justify engine changes, so keep them exact
    import java.util.concurrent.atomic.AtomicLong
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val taskMs = new AtomicLong
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        val det = s.stageInfo.details.linesIterator
          .find(l => l.contains("graft") && !l.contains("tools.Probe"))
          .getOrElse(s.stageInfo.name).trim
        val m = s.stageInfo.taskMetrics
        val io = f"in=${m.inputMetrics.recordsRead}%d " +
          f"sr=${m.shuffleReadMetrics.recordsRead}%d " +
          f"sw=${m.shuffleWriteMetrics.recordsWritten}%d " +
          f"deser=${m.executorDeserializeTime / 1000.0}%.2f " +
          f"gc=${m.jvmGCTime / 1000.0}%.2f"
        stageRows.add((s.stageInfo.taskMetrics.executorRunTime,
          s.stageInfo.numTasks, s"$io  ${det.take(90)}"))
      }
    }
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if prefixes.forall(_.exists(name.startsWith))) {
      def run(): Unit = { fn(spark, sfDir).queryExecution.toRdd.count(): Unit }
      val compiles = () => org.apache.spark.sql.graft.PlanBridge.janinoCompiles
      val c0 = compiles()
      run() // warm
      val c1 = compiles()
      // drain the warm run's queued events first, or a late stage event
      // of it lands in the counted run
      org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(
        spark.sparkContext, 10000)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      run()
      val wall = (System.nanoTime() - t0) / 1e9
      val c2 = compiles()
      // listener events are async; drain the bus before reading counts
      // (a fixed sleep under-reported on slow runs — r20 ADVICE)
      org.apache.spark.sql.graft.PlanBridge.waitListenerBusEmpty(
        spark.sparkContext, 10000)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobs] $name wall=$wall%.2f s jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} taskTime=${taskMs.get / 1000.0}%.2f s " +
        f"janino=${c2 - c1} (warm run ${c1 - c0})")
      if (sys.env.contains("SPARK_GRAFT_STAGES")) {
        import scala.jdk.CollectionConverters._
        stageRows.asScala.toSeq.sortBy(-_._1).take(8).foreach { case (ms, nt, nm) =>
          println(f"  [stage] ${ms / 1000.0}%7.2f s  tasks=$nt%-4d $nm")
        }
      }
      stageRows.clear()
    }
    spark.stop()
  }
}
