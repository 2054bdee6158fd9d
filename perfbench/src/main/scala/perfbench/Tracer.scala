package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing for one session: a SparkListener (jobs, stages,
  * tasks, executor time, shuffle, spill), a QueryExecutionListener
  * (analysis, optimization and planning time), a sampler of the scratch
  * directory's size, and BuildMemo's hit and miss counters. The
  * listeners are registered only between `start` and `stop`, so an
  * untraced pass runs exactly as in an untraced run.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext

  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val spill = new AtomicLong
  private val planS = new DoubleAdder
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageOp = mutable.Map.empty[Int, String]
  private val opRunMs = mutable.Map.empty[String, Long]
  private var memoHits0, memoMisses0 = 0L
  private var memoHits, memoMisses = 0L
  @volatile private var scratchPeak = 0L
  @volatile private var sampling = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet()
      jobStart(e.jobId) = e.time
      val op = Option(e.properties).map(_.getProperty(Tracer.OpProperty)).orNull
      if (op != null) e.stageIds.foreach(stageOp(_) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
        synchronized {
          stageOp.get(e.stageId).foreach(op =>
            opRunMs(op) = opRunMs.getOrElse(op, 0L) + m.executorRunTime)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      planS.add(qe.tracker.phases.values.map(_.durationMs).sum / 1000.0)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val localDir = new java.io.File(
    sc.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir")))

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private val sampler = new Thread(() => {
    try {
      while (true) {
        if (sampling) scratchPeak = math.max(scratchPeak, dirBytes(localDir))
        Thread.sleep(100)
      }
    } catch { case _: InterruptedException => () }
  }, "perfbench-scratch-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def start(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    memoHits0 = graft.ops.BuildMemo.hits
    memoMisses0 = graft.ops.BuildMemo.misses
    sampling = true
  }

  def stop(): Unit = {
    sampling = false
    memoHits += graft.ops.BuildMemo.hits - memoHits0
    memoMisses += graft.ops.BuildMemo.misses - memoMisses0
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def close(): Unit = sampler.interrupt()

  /** Summed job wall time: the union of job intervals, so overlapping
    * jobs count once.
    */
  private def jobUnionS: Double = synchronized {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1000.0
  }

  /** Per-pass layer metrics over `passes` traced passes. */
  def metrics(passes: Int, tracedWallS: Double,
      optOps: Set[String]): Map[String, Double] = {
    val n = passes.toDouble
    val jobS = jobUnionS
    val mb = 1024.0 * 1024.0
    val memoTotal = memoHits + memoMisses
    Map(
      "spark.jobs" -> jobs.get / n,
      "spark.stages" -> stages.get / n,
      "spark.tasks" -> tasks.get / n,
      "spark.plan_s" -> planS.sum / n,
      "spark.job_s" -> jobS / n,
      "spark.driver_gap_s" -> (tracedWallS - jobS) / n,
      "spark.task_run_s" -> runMs.get / 1000.0 / n,
      "spark.task_cpu_s" -> cpuNs.get / 1e9 / n,
      "spark.gc_s" -> gcMs.get / 1000.0 / n,
      "spark.core_util" -> runMs.get / 1000.0 / (tracedWallS * cores),
      "spark.shuffle_write_mb" -> shuffleWrite.get / mb / n,
      "spark.shuffle_read_mb" -> shuffleRead.get / mb / n,
      "spark.spill_mb" -> spill.get / mb / n,
      "scratch.peak_mb" -> scratchPeak / mb,
      "memo.hits" -> memoHits / n,
      "memo.misses" -> memoMisses / n,
      "memo.hit_ratio" ->
        (if (memoTotal == 0) 0.0 else memoHits.toDouble / memoTotal),
      "opt.task_s" -> synchronized {
        opRunMs.filter(kv => optOps.contains(kv._1)).values.sum / 1000.0 / n
      },
      "trace.coverage" -> math.min(1.0, (jobS + planS.sum) / tracedWallS))
  }
}

object Tracer {
  /** Local property naming the benchmark operation that submitted a job. */
  val OpProperty = "perfbench.op"
}
