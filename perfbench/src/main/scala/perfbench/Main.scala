package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` builds the program, generates the
  * inputs from the seed and launches this main once per run:
  *
  *   perfbench.Main --workload W --trace 0|1 --cores N --deadline-s S
  *                  --data DIR --work DIR --spec FILE --out FILE
  *
  * It sets up one SparkSession, runs the work the spec file describes
  * and writes a JSON report (metrics, operation latencies, failures,
  * output checks, host stamps) to FILE. Timing is taken from outside the
  * engine, around calls into its public functions; the traced run adds a
  * [[Tracer]] for the per-layer metrics.
  */
object Main {

  final case class Opts(workload: String, trace: Boolean, cores: Int,
                        deadlineS: Int, data: String, work: String,
                        spec: String, out: String)

  /** What a workload hands back: the latency samples of every timed
    * operation, the timed passes, per-layer metrics, the failure count
    * and the output-check verdict. An operation that runs once per pass
    * has one sample per pass, and its latency is the fastest of them.
    * The noise on a shared host only ever adds time (co-tenants and the
    * hypervisor take cores away in bursts), so the fastest sample is the
    * steadiest estimate of what the operation costs, and a change to the
    * program moves every sample. A failed operation, or one the deadline
    * left unstarted, is counted in `failed` and its sample is `failMs`,
    * slower than any operation that can finish in the run. */
  final class Report(val failMs: Double) {
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    /** (completed operations, wall in s) of every timed pass. */
    val passes = mutable.ArrayBuffer[(Long, Double)]()
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val extra = mutable.LinkedHashMap[String, String]() // raw JSON values
    var failed = 0L
    var correct = true
    val errors = mutable.ArrayBuffer[String]()
    def op(key: String, ms: Double): Unit = synchronized {
      samples.getOrElseUpdate(key, mutable.ArrayBuffer[Double]()) += ms
    }
    def attempted: Long = samples.valuesIterator.map(_.size.toLong).sum
    /** Latency of every operation: the fastest of its samples. */
    def opMs: Seq[Double] = samples.valuesIterator.map(_.min).toSeq
    /** Host stamps of every timed pass, as JSON: its wall, and the steal
      * ticks and process CPU time over it, so a pass the host slowed can
      * be identified. */
    val passStamps = mutable.ArrayBuffer[String]()
    private var untimedNs = 0L
    /** Run `f` as one timed pass and record its completed operations and
      * its wall, less what ran [[untimed]]. */
    def pass(f: => Unit): Unit = {
      val (a0, f0, u0, t0) = (attempted, failed, untimedNs, System.nanoTime())
      val (st0, cpu0) = (Host.stealTicks(), Host.cpuNs())
      f
      val wallNs = System.nanoTime() - t0 - (untimedNs - u0)
      passes += ((attempted - a0 - (failed - f0), wallNs / 1e9))
      passStamps += s"""{"wall_s": ${wallNs / 1e9}, """ +
        s""""steal_ticks": ${Host.stealTicks() - st0}, """ +
        s""""process_cpu_s": ${(Host.cpuNs() - cpu0) / 1e9}}"""
    }
    /** Checks and layer probes inside a pass: not part of its wall. */
    def untimed[A](f: => A): A = {
      val t0 = System.nanoTime()
      try f finally synchronized(untimedNs += System.nanoTime() - t0)
    }
    /** Count one failed operation; returns the latency it enters as. */
    def fail(msg: String): Double = synchronized {
      failed += 1
      if (errors.size < 20) errors += msg
      failMs
    }
    def wrong(msg: String): Unit = synchronized {
      correct = false
      if (errors.size < 20) errors += s"check: $msg"
    }
  }

  /** Run context shared by the workloads. `setupDone` is stamped by the
    * workload right before its first timed operation; no operation starts
    * after `deadlineMs`, so a slow program still gets a report. */
  final class Ctx(val spark: SparkSession, val opts: Opts,
                  val tracer: Option[Tracer], val jvmStartMs: Long) {
    val deadlineMs: Long = jvmStartMs + opts.deadlineS * 1000L
    def remainingMs: Long = deadlineMs - System.currentTimeMillis()
    def pastDeadline: Boolean = remainingMs <= 0
    var setupEndMs = 0L
    def setupDone(): Unit =
      if (setupEndMs == 0L) setupEndMs = System.currentTimeMillis()
    def setupS: Double = (setupEndMs - jvmStartMs) / 1000.0
    def snap(): Tracer.Snap = tracer.map(_.snap()).getOrElse(Tracer.Zero)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run the tasks on `threads` threads; returns when all have ended. */
  def concurrently(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally {
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The typical latency every workload reports as `op_gmean_ms`. The
    * operations of a run differ in cost by 20x, so their median is
    * whichever operation sits at the edge between the cheap and the heavy
    * ones, and it moves more between runs than the geometric mean, which
    * weighs a relative change of every operation alike. */
  def geoMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)

  /** The tail every workload reports as `op_tail_ms`: the mean of the
    * slowest quarter of its operations. A run has tens of operations, too
    * few for a high percentile with enough samples beyond it; the mean of
    * the slowest quarter uses all of them. */
  def tailMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val slow = xs.sorted.takeRight(math.max(1, (xs.size + 3) / 4))
      slow.sum / slow.size
    }

  /** Quantile of the store reads' latencies. */
  val TailQ = 0.75

  /** Host stamps: cores, /proc/stat steal ticks and the 1-minute load
    * average, so a noisy run can be identified afterwards. */
  object Host {
    def stealTicks(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val line = try src.getLines().next() finally src.close()
        line.trim.split("\\s+")(8).toLong
      } catch { case _: Throwable => -1L }
    def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    def loadAvg(): Double =
      ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("trace") == "1", m("cores").toInt,
      m("deadline-s").toInt, m("data"), m("work"), m("spec"), m("out"))
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def jsonObj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"${jsonStr(k)}: ${jsonNum(v)}" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = Host.stealTicks()
    val load0 = Host.loadAvg()
    val (spark, sessionMs) = time {
      SparkSession.builder()
        .master(s"local[${opts.cores}]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", opts.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
        .config("spark.local.dir", s"${opts.work}/spark-local")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${opts.work}/checkpoints")
    val tracer = if (opts.trace) Some(new Tracer(spark).install()) else None
    val ctx = new Ctx(spark, opts, tracer, jvmStartMs)
    val whole0 = ctx.snap()
    val rep = new Report(opts.deadlineS * 1000.0)
    try {
      opts.workload match {
        case "recs_serve" => RecsServe.run(ctx, rep)
        case "registry_ingest" =>
          // Set-up pays every row's first-needed state and warms the
          // rows, concurrently on the cores; then each timed pass runs the
          // rows and an ingest pass into a fresh store, so the samples of
          // an operation lie a pass apart. Only the traced run reads the
          // store back.
          val sweep = new RegistrySweep(ctx, rep)
          val ingest = new EdgeIngest(ctx, rep)
          val (_, warmMs) = time(concurrently(opts.cores, sweep.prewarmTasks))
          rep.layer("setup.warmup_s") = warmMs / 1000.0
          ctx.setupDone()
          for (p <- ingest.passes)
            rep.pass { sweep.pass(); ingest.pass(p, read = opts.trace && p == ingest.passes.last) }
          sweep.report(ingest.passes.size)
          ingest.check()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case t: Throwable =>
        rep.wrong(s"workload aborted: ${t.getClass.getName}: ${t.getMessage}")
        t.printStackTrace()
        if (rep.samples.isEmpty) rep.op("aborted", rep.fail("no operation ran"))
        ctx.setupDone()
    }
    val whole = ctx.snap() - whole0
    rep.e2e("setup_s") = ctx.setupS
    // The throughput of the fastest pass, as latencies take the fastest
    // sample.
    rep.e2e("ops_per_s") =
      rep.passes.map { case (n, s) => n / math.max(1e-9, s) }.maxOption.getOrElse(0.0)
    rep.e2e("op_gmean_ms") = geoMean(rep.opMs)
    rep.e2e("op_tail_ms") = tailMean(rep.opMs)
    rep.extra("pass_stamps") = rep.passStamps.mkString("[", ", ", "]")
    rep.extra("op_ms") = rep.samples.map { case (k, v) =>
      s"${jsonStr(k)}: ${v.map(jsonNum).mkString("[", ", ", "]")}" }
      .mkString("{", ", ", "}")
    rep.layer("setup.session_s") = sessionMs / 1000.0
    rep.layer("spark.gc_ms") = whole.gcMs.toDouble
    rep.layer("spark.spill_bytes") = whole.spillBytes.toDouble
    val stamp = Seq(
      "cores" -> Runtime.getRuntime.availableProcessors.toDouble,
      "spark_cores" -> opts.cores.toDouble,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "load_avg_start" -> load0,
      "steal_ticks" -> (Host.stealTicks() - steal0).toDouble)
    val json =
      s"""{"workload": ${jsonStr(opts.workload)}, "attempted": ${rep.attempted},
         | "failed": ${rep.failed}, "correct": ${rep.correct},
         | "errors": ${rep.errors.map(jsonStr).mkString("[", ", ", "]")},
         | "e2e": ${jsonObj(rep.e2e)}, "layer": ${jsonObj(rep.layer)},
         | "stamp": ${jsonObj(stamp)}${rep.extra.map { case (k, v) =>
        s", ${jsonStr(k)}: $v" }.mkString}}""".stripMargin
    val w = new java.io.PrintWriter(opts.out, "UTF-8")
    try w.write(json) finally w.close()
    spark.stop()
    // Serve's worker pool is non-daemon; end the JVM explicitly.
    System.exit(0)
  }
}
