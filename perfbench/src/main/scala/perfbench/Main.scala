package perfbench

import org.apache.spark.sql.SparkSession

/** One timed call into the program: the time spent building the
  * DataFrame (`constructS`, which includes any eager jobs the builder
  * runs) and the time spent forcing it (`executeS`).
  */
final case class OpSample(name: String, family: String, constructS: Double,
    executeS: Double, ok: Boolean) {
  def totalS: Double = constructS + executeS
}

/** A benchmark workload. `setup` makes the inputs in a fresh session and
  * may run several times; `check` is the untimed first pass that warms
  * the JVM and compares every output with its expected value; `pass`
  * is one timed pass over the workload's operations.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Fingerprint of the inputs this run generated, for the run record. */
  def inputDigest: String
  /** Returns (operations attempted, operations failed or mismatched). */
  def check(spark: SparkSession): (Int, Int)
  /** `cold`: clear BuildMemo and the cache before every operation. */
  def pass(spark: SparkSession, cold: Boolean): Seq[OpSample]
  /** Layer timings that need extra forced calls; traced runs only. */
  def layerProbe(spark: SparkSession): Map[String, Double] = Map.empty
  /** Ticker × state evaluations the optimizer makes per pass. */
  def optEvals: Double = 0.0
  /** Operations whose Spark task time counts as the optimizer's. */
  def optOps: Set[String] = Set.empty
}

/** Benchmark entry point. Run through `perfbench/run.py`, which builds
  * the classpath and passes the run directory; arguments are
  * `workload seed seconds trace cores runDir dataDir digestsFile`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, runDir: String, dataDir: String,
      digests: String)

  /** Setup repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** The session exactly as `graft.Bench` builds it. */
  def session(cores: Int): SparkSession =
    graft.ops.ScratchDir.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()

  /** Runs before every timed operation; names it for the tracer. */
  def beforeOp(spark: SparkSession, name: String, cold: Boolean): Unit = {
    if (cold) {
      graft.ops.BuildMemo.clear()
      spark.catalog.clearCache()
    }
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, name)
  }

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadavg(): Double = os.getSystemLoadAverage

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole JVM has used: task threads, the driver, JIT
    * and GC alike.
    */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds each kind of JVM-internal thread has used so far:
    * `jit` (the C1 and C2 compiler threads and the code-cache sweeper)
    * and `gc` (the collector threads and the VM thread). Read from /proc,
    * whose per-thread counters are in clock ticks of 1/100 s; `run.py`
    * keeps the compiler threads alive for the whole run, so none of
    * their time is lost.
    */
  def jvmThreadCpu(): Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").list())
      .getOrElse(Array.empty[String])
    val byKind = tasks.toSeq.flatMap { tid =>
      try {
        val st = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/self/task/$tid/stat")), "UTF-8")
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        // fields from the state (3rd) on; utime and stime are the 14th and 15th
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        val kind =
          if (name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler") ||
            name == "Sweeper thread") "jit"
          else if (name.startsWith("GC Thread") || name.startsWith("G1 ") ||
            name == "VM Thread") "gc"
          else ""
        if (kind.isEmpty) None else Some(kind -> (f(11).toLong + f(12).toLong) / 100.0)
      } catch { case _: java.io.IOException => None }
    }
    Map("jit" -> 0.0, "gc" -> 0.0) ++
      byKind.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
    finally status.close()
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 8, "usage: workload seed seconds trace cores " +
      "runDir dataDir digestsFile")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4).toInt, argv(5), argv(6), argv(7))
    val wl: Workload = a.workload match {
      case "backtest_universe" => new Universe(a)
      case "query_suite" => new Suite(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadBefore = loadavg()

    // set-up: session start through input generation, repeated so its
    // median is steady; the last session is kept for the measurement
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      spark = session(a.cores)
      spark.sparkContext.setLogLevel("ERROR")
      wl.setup(spark)
      val t = seconds(t0)
      if (rep < SetupReps) {
        spark.stop()
        graft.ops.BuildMemo.clear()
      }
      t
    }

    val t0 = System.nanoTime()
    val (checkAttempted, checkFailed) = wl.check(spark)
    val firstPassS = seconds(t0)

    // measurement: warm passes (caches and memos kept) until the window is
    // used, then one cold pass that clears BuildMemo and the cache before
    // every operation. A traced run alternates untraced and traced warm
    // passes, so the overhead is measured under the same conditions, and
    // traces a second cold pass.
    val tracer = if (a.trace) Some(new Tracer(spark, a.cores)) else None
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Seq[OpSample]]
    val untracedWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Seq[OpSample]]
    val tracedWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val untracedCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passLog = scala.collection.mutable.ArrayBuffer.empty[String]
    val jitCpu, gcCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** One pass. Its CPU time is that of the program's own threads: it
      * leaves out the JIT compiler threads, which after the check pass
      * still used 55-65% of a pass's CPU, an amount that varied from run
      * to run with the JIT's progress, and the GC threads, whose time per
      * pass ranged from 0.2 to 1.5 s as collections fell in one pass or
      * the next. Both are reported on their own, as `jvm.jit_cpu_s` and
      * `jvm.gc_cpu_s`.
      */
    def timedPass(cold: Boolean, tr: Option[Tracer]): (Seq[OpSample], Double, Double) = {
      tr.foreach(_.start())
      val jvm0 = jvmThreadCpu()
      val c0 = cpuSeconds()
      val p0 = System.nanoTime()
      val samples = wl.pass(spark, cold)
      val wall = seconds(p0)
      val total = cpuSeconds() - c0
      val jvm1 = jvmThreadCpu()
      tr.foreach(_.stop())
      val Seq(jit, gc) = Seq("jit", "gc").map(k => jvm1(k) - jvm0(k))
      val cpu = total - jit - gc
      if (tr.isDefined && !cold) { jitCpu += jit; gcCpu += gc }
      passLog += f"""{"cold": $cold, "traced": ${tr.isDefined}, "wall_s": $wall%.4f, """ +
        f""""cpu_s": $cpu%.3f, "jit_cpu_s": $jit%.2f, "gc_cpu_s": $gc%.2f}"""
      (samples, wall, cpu)
    }
    val minPasses = 2
    val window = System.nanoTime()
    var i = 0
    while (i < minPasses || seconds(window) < a.seconds) {
      val tr = tracer.filter(_ => i % 2 == 1)
      val (samples, wall, cpu) = timedPass(cold = false, tr)
      if (tr.isDefined) {
        traced += samples; tracedWall += wall
        probes += wl.layerProbe(spark)
      } else {
        untraced += samples; untracedWall += wall; untracedCpu += cpu
      }
      i += 1
    }
    val (coldSamples, coldWall, coldCpu) = timedPass(cold = true, None)
    val coldTracer = tracer.map(_ => new Tracer(spark, a.cores))
    val coldTraced = coldTracer.map(t => timedPass(cold = true, Some(t))._1)
    val loadAfter = loadavg()

    val all = (untraced ++ traced).flatten ++ coldSamples ++
      coldTraced.getOrElse(Nil)
    val attempted = checkAttempted + all.size
    val failed = checkFailed + all.count(!_.ok)

    def q(v: Double, unit: String): String = {
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"""{"value": $num, "unit": "$unit"}"""
    }
    // each operation's best warm time: a burst of host contention during
    // one pass does not count against the program
    val best = untraced.flatten.filter(_.ok).groupBy(_.name).values
      .map(_.map(_.totalS).min).toSeq
    val wall = Seq(
      "wall.pass_s" -> best.sum,
      "wall.cold_pass_s" -> coldWall,
      "wall.op_p50_s" -> quantile(best, 0.5),
      "wall.op_p90_s" -> quantile(best, 0.9))
    // the gated metrics are the CPU seconds of the program's threads: on a
    // shared host the hypervisor's steal moved wall times by up to 30%
    // between runs, and the JIT and GC threads moved the whole JVM's CPU
    // time by up to a quarter
    val metrics: Seq[(String, String)] =
      if (!a.trace) {
        Seq(
          "setup_s" -> q(median(setupTimes), "s"),
          "pass_cpu_s" -> q(median(untracedCpu.toSeq), "s"),
          "cold_pass_cpu_s" -> q(coldCpu, "s"))
      } else {
        val n = traced.size.toDouble
        def perPass(f: OpSample => Double, pick: OpSample => Boolean = _ => true) =
          traced.flatten.filter(pick).map(f).sum / n
        val layer = tracer.get.metrics(traced.size, tracedWall.sum, wl.optOps)
        val families = Seq("dedup", "sim", "text", "sketch", "multimodal",
          "graph", "engine", "opt", "ts", "relational", "streaming")
        val probeKeys = Seq("strategy.signals_s", "engine.fold_s",
          "engine.daily_s", "analytics.metrics_s")
        val coldLayer = coldTracer.get.metrics(1, coldWall, Set.empty)
        val optEvals = wl.optEvals
        val optTaskS = layer("opt.task_s")
        Seq(
          "query.construct_s" -> q(perPass(_.constructS), "s"),
          "query.execute_s" -> q(perPass(_.executeS), "s")) ++
        probeKeys.map(k => k -> q(
          if (probes.isEmpty) 0.0 else probes.map(_.getOrElse(k, 0.0)).sum / probes.size, "s")) ++
        Seq(
          "opt.evals" -> q(optEvals, "count"),
          "opt.evals_per_task_s" -> q(
            if (optTaskS > 0) optEvals / optTaskS else 0.0, "1/s"),
          "memo.hits" -> q(layer("memo.hits"), "count"),
          "memo.misses" -> q(layer("memo.misses"), "count"),
          "memo.hit_ratio" -> q(layer("memo.hit_ratio"), "ratio"),
          "memo.cold_hits" -> q(coldLayer("memo.hits"), "count"),
          "memo.cold_misses" -> q(coldLayer("memo.misses"), "count")) ++
        Seq("spark.jobs" -> "count", "spark.stages" -> "count",
          "spark.tasks" -> "count", "spark.plan_s" -> "s",
          "spark.job_s" -> "s", "spark.driver_gap_s" -> "s",
          "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
          "spark.gc_s" -> "s", "spark.core_util" -> "ratio",
          "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
          "spark.spill_mb" -> "MB", "scratch.peak_mb" -> "MB")
          .map { case (k, u) => k -> q(layer(k), u) } ++
        families.map(f => s"family.${f}_s" ->
          q(perPass(_.totalS, _.family == f), "s")) ++
        Seq(
          "trace.overhead_s" -> q(
            median(tracedWall.toSeq) - median(untracedWall.toSeq), "s"),
          "trace.coverage" -> q(layer("trace.coverage"), "ratio"),
          "jvm.peak_rss_mb" -> q(peakRssMb(), "MB"),
          "jvm.jit_cpu_s" -> q(jitCpu.sum / n, "s"),
          "jvm.gc_cpu_s" -> q(gcCpu.sum / n, "s")) ++
        wall.map { case (k, v) => k -> q(v, "s") }
      }

    val localDir = spark.conf.getOption("spark.local.dir")
      .orElse(Option(spark.sparkContext.getConf.get("spark.local.dir", null)))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    def js(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val env = Seq(
      "workload" -> js(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> a.cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_version" -> js(spark.version),
      "spark_local_dir" -> js(localDir),
      "input_sha256" -> js(wl.inputDigest),
      "loadavg_before" -> f"$loadBefore%.2f", "loadavg_after" -> f"$loadAfter%.2f",
      "peak_rss_mb" -> f"${peakRssMb()}%.1f",
      "first_pass_s" -> f"$firstPassS%.4f",
      "wall" -> wall.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}"),
      "warm_pass_walls_s" -> untracedWall.map(t => f"$t%.4f").mkString("[", ", ", "]"),
      "setup_reps_s" -> setupTimes.map(t => f"$t%.4f").mkString("[", ", ", "]"),
      "passes" -> passLog.mkString("[", ", ", "]"),
      "passes_untraced" -> untraced.size.toString,
      "passes_traced" -> traced.size.toString)
    println(env.map { case (k, v) => s"${js(k)}: $v" }
      .mkString("""{"env": {""", ", ", "}}"))

    // per-operation medians with their sample counts, for reading a run
    val byOp = untraced.flatten.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, ss) =>
        s"""${js(n)}: {"median_s": ${median(ss.map(_.totalS).toSeq)}, "n": ${ss.size}}""" }
    println(byOp.mkString("""{"ops": {""", ", ", "}}"))

    val correct = failed == 0 && attempted > 0
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}") + "}")
    (tracer ++ coldTracer).foreach(_.close())
    spark.stop()
  }
}
