package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters for the traced run: a Spark listener over jobs
  * and tasks plus a query-execution listener for planning time. Only the
  * traced run installs it; untraced runs measure without any listener.
  *
  * Counters are cumulative; callers take a [[Tracer.Snap]] before and
  * after a span and subtract. Listener events arrive asynchronously, so
  * [[snap]] drains the listener bus first.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val execCpuNs = new AtomicLong
  private val inputBytes = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val outputBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val gcMs = new AtomicLong
  private val planMs = new AtomicLong
  // Wall time with at least one job running: a span's wall minus its
  // busy time is the driver-side gap between jobs.
  private val busyMs = new AtomicLong
  private var running = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    synchronized {
      if (running == 0) busySince = e.time
      running += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) busyMs.addAndGet(math.max(0L, e.time - busySince))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      execCpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    this
  }

  /** Wait for queued listener events (the bus is private to Spark at
    * compile time but public in bytecode). */
  private def drain(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(10000L))
    } catch { case _: Throwable => () }

  def snap(): Tracer.Snap = {
    drain()
    Tracer.Snap(jobs.get, tasks.get, execCpuNs.get / 1000000L, inputBytes.get,
      shuffleBytes.get, outputBytes.get, spillBytes.get, gcMs.get,
      planMs.get, busyMs.get, System.nanoTime())
  }
}

object Tracer {
  final case class Snap(jobs: Long, tasks: Long, execCpuMs: Long,
                        inputBytes: Long, shuffleBytes: Long,
                        outputBytes: Long, spillBytes: Long, gcMs: Long,
                        planMs: Long, busyMs: Long, nanos: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks,
      execCpuMs - o.execCpuMs, inputBytes - o.inputBytes,
      shuffleBytes - o.shuffleBytes, outputBytes - o.outputBytes,
      spillBytes - o.spillBytes, gcMs - o.gcMs, planMs - o.planMs,
      busyMs - o.busyMs, nanos - o.nanos)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, tasks + o.tasks,
      execCpuMs + o.execCpuMs, inputBytes + o.inputBytes,
      shuffleBytes + o.shuffleBytes, outputBytes + o.outputBytes,
      spillBytes + o.spillBytes, gcMs + o.gcMs, planMs + o.planMs,
      busyMs + o.busyMs, nanos + o.nanos)
    def wallMs: Double = nanos / 1e6
    /** Span wall not covered by any running job. */
    def driverGapMs: Double = math.max(0.0, wallMs - busyMs)
  }
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}
