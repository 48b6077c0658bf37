package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Drives one benchmark run inside one JVM, through the engine's public
  * entry `graft.SparkEntry.queries(name)(spark, dir)` only.
  *
  * Sequence: session + TopKPerKey install; a cold pass (for a workload
  * with standing stores: its stateless queries, then the store queries'
  * first touch against an empty store directory, timed as the store
  * build); a second warm pass (the first two executions of every query
  * dump their results for the output check); then timed passes for
  * `--seconds`. A pass runs the workload's query list once, drained by
  * `--clients` threads; timed passes take it in a seed-shuffled order.
  * Raw timings go to `--out`/harness.json (and trace.json when traced);
  * the calling script turns them into metrics.
  *
  * Arguments (all required): --workload --data --out --seconds --trace
  * --clients --cores --seed --queries (comma list) --stores (comma list,
  * may be "") --sink (1: each execution writes parquet, as Verify does).
  */
object Harness {
  private val QueryBudgetS = 60.0

  final case class Exec(pass: Int, name: String, client: Int, start: Double,
      wall: Double, ok: Boolean, error: String)
  final case class Pass(pass: Int, warm: Boolean, start: Double, wall: Double,
      cpuS: Double, appCpuS: Double, heapMb: Double, load1: Double, stealTicks: Long,
      actionMark: Int, gcS: Double, jitS: Double)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def list(k: String) = opt(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dataDir = opt("data")
    val outDir = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val clients = opt("clients").toInt
    val cores = opt("cores").toInt
    val seed = opt("seed").toLong
    val queries = list("queries")
    val stores = list("stores")
    val sink = opt("sink") == "1"

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "512k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
    if (traced) builder.config("spark.sql.queryExecutionListeners", classOf[ActionListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Trace.rootSession = spark
    if (traced) spark.sparkContext.addSparkListener(Trace.Listener)
    graft.plans.TopKPerKey.install(spark)
    val fns = graft.SparkEntry.queries
    val missing = (queries ++ stores).filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val execs = new ConcurrentLinkedQueue[Exec]()
    val passes = ArrayBuffer.empty[Pass]
    val running = new ConcurrentHashMap[String, java.lang.Double]()
    val timedOut = ConcurrentHashMap.newKeySet[String]()
    val watchdog = new Thread(() => {
      try while (true) {
        Thread.sleep(500)
        running.asScala.foreach { case (group, t0) =>
          if (Trace.now() - t0 > QueryBudgetS * 1000 && timedOut.add(group))
            spark.sparkContext.cancelJobGroupAndFutureJobs(group)
        }
      } catch { case _: InterruptedException => () }
    })
    watchdog.setDaemon(true)
    watchdog.start()

    var runSpan = 0
    def execute(pass: Int, name: String, client: Int, passSpan: Int, dump: Option[String]): Unit = {
      val group = s"p$pass:$name"
      val sc = spark.sparkContext
      sc.setJobGroup(group, group, interruptOnCancel = true)
      sc.setLocalProperty("perfbench.pass", pass.toString)
      val t0 = Trace.now()
      running.put(group, t0)
      val (ok, err) = try {
        Trace.span(passSpan, "query", name) { qid =>
          // child spans find their parent through the query span id
          def child[A](kind: String)(body: => A): A = {
            sc.setLocalProperty("perfbench.phase", kind)
            if (traced) Trace.span(qid, kind, name)(_ => body) else body
          }
          val df: DataFrame = child("build")(fns(name)(spark, dataDir))
          if (traced) {
            child("optimize")(df.queryExecution.optimizedPlan)
            child("plan")(df.queryExecution.executedPlan)
          }
          child("exec") {
            dump match {
              case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
              case None => df.queryExecution.toRdd.count()
            }
          }
        }
        (!timedOut.contains(group), if (timedOut.contains(group)) "timeout" else "")
      } catch {
        case e: Throwable =>
          (false, if (timedOut.contains(group)) "timeout" else s"${e.getClass.getName}: ${e.getMessage}")
      } finally {
        running.remove(group)
        sc.clearJobGroup()
      }
      val wall = Trace.now() - t0
      System.err.println(f"[perfbench] pass $pass $name ${wall / 1000}%.3f s" +
        (if (ok) "" else s" FAILED: $err"))
      execs.add(Exec(pass, name, client, t0, wall, ok, err.take(300)))
      ()
    }

    def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    def procCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    /** CPU of the live Java threads (driver, clients, executor tasks),
      * leaving out the JIT compiler and GC threads: in this engine the JIT
      * never stops compiling freshly generated classes, and its share
      * varies from JVM to JVM far more than the queries' own work. Client
      * threads end with their pass, so they add their own CPU here. */
    val threadMx = ManagementFactory.getThreadMXBean
    val endedThreadsCpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    def appCpuS(): Double =
      (threadMx.getAllThreadIds.map(threadMx.getThreadCpuTime).filter(_ > 0).sum +
        endedThreadsCpuNs.get) / 1e9
    def load1(): Double =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def stealTicks(): Long =
      try new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).linesIterator
        .next().split("\\s+")(8).toLong
      catch { case _: Throwable => -1L }

    /** One pass over `names`, drained by `clients` threads. Returns wall s. */
    def runPass(pass: Int, names: Seq[String], warm: Boolean, dump: Option[String]): Double = {
      val (cpu0, app0, gc0, jit0) = (procCpuS(), appCpuS(), gcS(), jitS())
      val t0 = Trace.now()
      Trace.span(runSpan, "pass", s"${if (warm) "warm" else "timed"}-$pass") { ps =>
        val queue = new ConcurrentLinkedQueue[String](names.asJava)
        val threads = (0 until clients.min(names.size)).map { c =>
          new Thread(() => {
            var n = queue.poll()
            while (n != null) {
              val dir = dump.orElse(if (sink) Some(s"$outDir/sink/p$pass") else None)
              execute(pass, n, c, ps, dir)
              n = queue.poll()
            }
            endedThreadsCpuNs.addAndGet(threadMx.getCurrentThreadCpuTime)
          }, s"perfbench-client-$c")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
      }
      val wall = (Trace.now() - t0) / 1000
      val (cpu, appCpu, gc, jit) = (procCpuS() - cpu0, appCpuS() - app0, gcS() - gc0, jitS() - jit0)
      // untimed: the pass's own sink output goes, then the retained-heap
      // reading. The second full GC frees what Spark's ContextCleaner
      // released (checkpoint, broadcast and shuffle blocks) after the first.
      deleteTree(Paths.get(s"$outDir/sink"))
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passes += Pass(pass, warm, t0, wall, cpu, appCpu, heap, load1(), stealTicks(),
        actionMark(), gc, jit)
      wall
    }
    /** Untimed, traced runs only: waits until the listener bus has stopped
      * delivering Dataset actions, then returns how many have arrived, so
      * each action can be assigned to the pass it was delivered in. */
    def actionMark(): Int = {
      if (traced) {
        var n = -1
        val deadline = System.currentTimeMillis() + 3000
        while (n != Trace.actionCount.get && System.currentTimeMillis() < deadline) {
          n = Trace.actionCount.get
          Thread.sleep(150)
        }
      }
      Trace.actionCount.get
    }
    def order(pass: Int, names: Seq[String]) = new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    var storeBuildS = 0.0
    var setupEnd = 0.0
    Trace.span(0, "run", opt("workload")) { id =>
      runSpan = id
      // ---- set-up: two warm passes. The first execution of each query
      // dumps its result (w1) for the oracle compare, the second dumps it
      // again (w2) for the checksum of queries without an oracle. Pass
      // times do not settle within a run's budget: the engine generates
      // new classes every execution, so the JIT keeps compiling and passes
      // keep falling for about ten passes.
      val w1 = Some(s"$outDir/results/w1")
      var pass = 0
      // Warm passes keep the listed order whatever the seed: the queries
      // that run first shape the JIT's profiles, and with them the speed
      // of every later pass.
      def next(names: Seq[String], dump: Option[String]): Double = {
        pass += 1
        runPass(pass, names, warm = true, dump)
      }
      if (stores.nonEmpty) {
        // stateless queries first, so that the store phase times the
        // stores' write path rather than JVM warm-up
        next(queries.filterNot(stores.contains), w1)
        storeBuildS = next(stores, w1)
      } else next(queries, w1)
      next(queries, Some(s"$outDir/results/w2"))
      setupEnd = Trace.now()
      // ---- timed passes
      val timed0 = Trace.now()
      while (passes.count(!_.warm) == 0 || Trace.now() - timed0 < seconds * 1000) {
        pass += 1
        runPass(pass, order(pass, queries), warm = false, dump = None)
      }
    }
    watchdog.interrupt()

    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    if (traced) {
      val deadline = System.currentTimeMillis() + 5000
      while (!Trace.drained() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      write(s"$outDir/trace.json", Trace.json())
    }
    import Json._
    write(s"$outDir/harness.json", obj(
      "jvm_start" -> num(jvmStartMs),
      "setup_end" -> num(setupEnd),
      "store_build_s" -> num(storeBuildS),
      "cores" -> num(cores.toLong),
      "clients" -> num(clients.toLong),
      "oracle" -> obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*),
      "passes" -> arr(passes.toSeq.map(p => obj(
        "pass" -> num(p.pass.toLong), "warm" -> bool(p.warm), "start" -> num(p.start),
        "wall_s" -> num(p.wall), "proc_cpu_s" -> num(p.cpuS),
        "app_cpu_s" -> num(p.appCpuS), "heap_mb" -> num(p.heapMb),
        "load1" -> num(p.load1), "steal_ticks" -> num(p.stealTicks),
        "action_mark" -> num(p.actionMark.toLong), "gc_s" -> num(p.gcS),
        "jit_s" -> num(p.jitS)))),
      "execs" -> arr(execs.asScala.toSeq.map(e => obj(
        "pass" -> num(e.pass.toLong), "name" -> str(e.name), "client" -> num(e.client.toLong),
        "start" -> num(e.start), "wall_s" -> num(e.wall / 1000), "ok" -> bool(e.ok),
        "error" -> str(e.error))))))
    spark.stop()
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(UTF_8))

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }
}
