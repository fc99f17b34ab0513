package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run, in-process against graft's public API:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cores C --work DIR --out FILE
  *
  * Sets up `setups` times (session start and input generation), runs
  * `warmCycles` untimed cycles, then runs a fixed number of operations in a
  * closed loop, checks each output, and writes the raw record (setup
  * times, input digests, per-operation walls and checks, and in a traced
  * run spans, jobs and kernel timings) to FILE as JSON. perfbench/stats.py
  * turns that record into metrics. */
object Main {
  val setups = 3
  val warmCycles = 2

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work"))

    val setupS = ArrayBuffer.empty[Double]
    val phases = ArrayBuffer.empty[Map[String, Double]]
    val digests = ArrayBuffer.empty[String]
    val setupErrors = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var wl: Workload = null
    for (r <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      wl = Workload(opt("workload"), seed)
      digests += wl.setup(spark, work)
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      phases += Map("session_s" -> (t1 - t0) / 1e9, "inputs_s" -> (t2 - t1) / 1e9)
    }
    val inputsPersisted = spark.sparkContext.getPersistentRDDs.size
    // warm-up, untimed, once: the first `warmCycles` cycles. One cycle is not
    // enough: with it the first measured fit cycle still ran 25-40% slower
    // while the JIT caught up.
    val w0 = System.nanoTime()
    val idle = new Tracer(spark.sparkContext)
    val warm = (0 until warmCycles * wl.cycle.size).map(i => wl.run(i, idle))
    val warmUpS = (System.nanoTime() - w0) / 1e9
    warm.foreach(w => setupErrors ++= w.check())

    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val n = wl.opsFor(seconds)
    val loopStart = System.nanoTime()
    val ops = ArrayBuffer.empty[Map[String, Any]]
    for (i <- 0 until n) {
      // a traced run traces every other cycle, in the order U T T U U T ..., so
      // traced and untraced cycles sit equally early; the untraced ones
      // measure the tracing overhead
      val c = i / wl.cycle.size
      val traced = trace && (c % 2 == 1) != ((c / 2) % 2 == 1)
      if (traced) tracer.enable() else tracer.disable()
      tracer.op = i
      val gc0 = gcMs()
      val t0 = tracer.nowMs
      val res = try Right(tracer.span("op")(wl.run(i, tracer))) catch { case e: Throwable => Left(e) }
      val t1 = tracer.nowMs
      val gc1 = gcMs()
      val persisted = sc.getPersistentRDDs.size - inputsPersisted
      val errs = res.fold(e => Seq(s"operation failed: $e"),
        r => try r.check() catch { case e: Throwable => Seq(s"check failed: $e") })
      ops += Map("i" -> i, "kind" -> wl.cycle(i % wl.cycle.size), "start_ms" -> t0,
        "end_ms" -> t1, "items" -> res.fold(_ => 0, _.items), "ok" -> errs.isEmpty,
        "errors" -> errs.take(3), "traced" -> traced, "gc_ms" -> (gc1 - gc0),
        "persisted_rdds" -> persisted)
    }
    tracer.disable()
    val loopS = (System.nanoTime() - loopStart) / 1e9

    // retained heap: driver heap after forced GC, inputs still registered
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val kernels = if (trace) KernelTimings.run(seed) else Map.empty[String, Any]

    val record = Map(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "cycle" -> wl.cycle, "ops_per_run" -> n,
      "java_version" -> System.getProperty("java.version"), "spark_version" -> spark.version,
      "setup_s" -> setupS, "warm_up_s" -> warmUpS, "setup_phases" -> phases,
      "input_digests" -> digests, "setup_errors" -> setupErrors, "loop_s" -> loopS,
      "retained_heap_mb" -> heapMb, "ops" -> ops, "spans" -> tracer.spanRecords,
      "jobs" -> tracer.jobRecords, "kernels" -> kernels)
    val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
    json.writeValue(new File(opt("out")), record)
    // Spark's shutdown hook stops the session; nothing else to release
    sys.exit(0)
  }
}
