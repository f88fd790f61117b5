package graft

object Bench {

  /** Spark-free host calibration (VERDICT r12 item 1): a fixed
    * single-thread CPU loop and a fixed-size file scan, measured before
    * the SparkSession exists. The pair is stamped into every artifact so
    * cross-ROUND drift is attributable after the fact: two blessed
    * artifacts N and M give engine drift as
    * (total_N/total_M) / (calib_N/calib_M) — a uniform host slowdown
    * (hypervisor throttling) moves calib and total together and divides
    * out; an engine regression moves only total. Without this, the
    * 147.7→199.4 s r10→r12 creep was host-vs-engine ambiguous forever.
    *
    * CPU: 10^9 xorshift64 steps after a 10^7-step JIT warm-up — pure
    * register arithmetic, no allocation, immune to data or page cache.
    * IO: 256 MiB streamed from a pinned parquet file (cycling if the file
    * is smaller), XOR-folded to defeat dead-code elimination — measures
    * the memory/page-cache read path the scans ride on.
    */
  private def hostCalibration(sfDir: String): (Long, Long, Long) = {
    def xorshift(n: Long, seed: Long): Long = {
      var x = seed; var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    var sink = xorshift(10000000L, 0x9E3779B97F4A7C15L) // JIT warm-up
    val c0 = System.nanoTime()
    sink ^= xorshift(1000000000L, sink | 1L)
    val cpuMs = (System.nanoTime() - c0) / 1000000L
    val (ioMs, ioBytes) =
      try {
        val dirP = java.nio.file.Paths.get(sfDir)
        val pinned = {
          val li = dirP.resolve("lineitem.parquet")
          if (java.nio.file.Files.exists(li)) li
          else {
            val s = java.nio.file.Files.list(dirP)
            try s.filter(_.toString.endsWith(".parquet"))
              .sorted().findFirst().orElse(null)
            finally s.close()
          }
        }
        if (pinned == null) (-1L, -1L)
        else {
          val budget = 256L * 1024 * 1024
          val buf = java.nio.ByteBuffer.allocate(8 * 1024 * 1024)
          var read = 0L
          var stalled = false
          val t0 = System.nanoTime()
          while (read < budget && !stalled) {
            val before = read
            val ch = java.nio.channels.FileChannel.open(
              pinned, java.nio.file.StandardOpenOption.READ)
            try {
              var n = 0
              while (read < budget && { buf.clear(); n = ch.read(buf); n } > 0) {
                read += n
                buf.flip()
                while (buf.remaining() >= 8) sink ^= buf.getLong()
              }
              // A pass that reads NOTHING (empty or concurrently
              // truncated file) must fail the calibration loudly, not
              // stamp a fake full-budget read or reopen forever
              // (ADVICE r13).
              if (read == before) stalled = true
            } finally ch.close()
          }
          if (stalled) (-1L, -1L)
          else ((System.nanoTime() - t0) / 1000000L, read)
        }
      } catch { case _: Throwable => (-1L, -1L) }
    if (sink == 42L) System.err.println("") // defeat DCE; never taken
    (cpuMs, ioMs, ioBytes)
  }

  /** `f` over the lines of /proc/stat (Linux best-effort: None when the
    * file is unreadable or `f` fails on it). */
  private def procStat[A](f: Iterator[String] => A): Option[A] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(f(src.getLines())) finally src.close()
    } catch { case _: Throwable => None }

  /** Hypervisor steal brackets (like the shuffle listener): /proc/stat's
    * aggregate cpu line as (steal ticks, total ticks). A hypervisor can
    * steal CPU in BURSTS that load averages cannot see (r6: the same
    * workload read 452 s at ~5.6% steal and 132 s clean), so every
    * per-query timing carries its own steal_pct — a reader can discount
    * steal-poisoned rows without re-running. */
  private def cpuTicks(): Option[(Long, Long)] =
    procStat(_.next().trim.split("\\s+").drop(1).map(_.toLong))
      .filter(_.length >= 8).map(t => (t(7), t.sum))

  def main(args: Array[String]): Unit = {
    // Ambient host load BEFORE this JVM does any work: the end-of-run
    // reading includes the bench's own threads, so the pair brackets how
    // much of a slow run is background noise vs the bench itself.
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val wallStartMs = System.currentTimeMillis()
    // Steal ticks at main start (warm-up included) for the self-stamped
    // clean gate below — same bracket the external harness uses.
    val mainTicks0 = cpuTicks()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Host calibration BEFORE the SparkSession exists (~2 s, untimed):
    // the Spark-free anchor every cross-round drift computation divides by.
    val (calibCpuMs, calibIoMs, calibIoBytes) = hostCalibration(sfDir)
    val cpus = Sessions.hostCpus
    val spark = Sessions.local(cpus)
    // Optional subset (comma-separated names): targeted A/B runs on a
    // family of queries without paying the full suite. Unset → all.
    // Parsed BEFORE the prewarm tier so a targeted run only warms the
    // modules it will measure: warming every index family for a
    // single-query 100× scale run is wasted work at best and an OOM at
    // worst (the GraphX view alone is tens of GB there). Full runs —
    // the committed artifact — prewarm everything, accounting unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selectedNames: Set[String] = only.getOrElse(SparkEntry.queries.keySet)
    def touches(reg: Registry): Boolean =
      selectedNames.exists(reg.queries.keySet)
    // Untimed warm-up: pay JVM/codegen/file-listing startup once, not
    // inside the first measured query.
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("health").foreach(_(spark, sfDir).count())
      // Long-lived-service state built once, untimed (the warm-up shape
      // VERDICT r2 task 9 prescribes): the memoized canonical graph
      // frames + GraphX view + static edge layouts that every graph
      // query reads, and the IVF vector index (VERDICT r5 item 5 —
      // an index build is ingest-side work; the probe is what a serving
      // query pays). Propagations and queries stay measured.
      if (touches(graph.GraphRegistry.registry))
        graph.GraphAlgs.prewarm(spark, sfDir,
          kernels = selectedNames.exists(graph.GraphAlgs.KernelServedRows))
      if (touches(similarity.SimilarityRegistry.registry) ||
          touches(pipeline.CurationRegistry.registry))
        similarity.Similarity.prewarm(spark, sfDir)
      if (touches(operators.RecsRegistry.registry))
        operators.Recs.prewarm(spark, sfDir)
      if (touches(streaming.StreamingRegistry.registry))
        streaming.EventStreams.prewarm(spark, sfDir)
      // Index-class state of the scan-reduction + tokenizer tiers (the
      // same convention as IVF/ALS above): the dim-slice bloom sketch,
      // the z-ordered layout write, and the trained BPE vocab are
      // ingest-side builds a long-lived service pays once; the measured
      // rows pay only the serving read.
      if (selectedNames("join_bloom_pruned"))
        operators.Pruning.dimBloomBytes(spark, sfDir)
      if (selectedNames("layout_zorder_scan") ||
          selectedNames("layout_zorder_report"))
        sources.ZOrderLayout.layout(spark, sfDir)
      if (selectedNames("layout_zorder_manifest"))
        sources.ZOrderLayout.manifestLayout(spark, sfDir)
      if (selectedNames("text_bpe_train") || selectedNames("text_bpe_encode"))
        text.BpeTrainer.trainMerges(spark, sfDir).count()
      if (selectedNames("text_bpe_train_k256") ||
          selectedNames("text_bpe_encode_k256"))
        text.BpeTrainer.trainMergesDeep(spark, sfDir).count()
      if (selectedNames("text_bpe_release"))
        text.BpeTrainer.releasedTokenizer(spark, sfDir)
      if (selectedNames.exists(_.startsWith("quality_model_"))) {
        text.QualityModel.model(spark, sfDir)
        if (selectedNames("quality_model_eval_val"))
          text.QualityModel.modelTrainSplit(spark, sfDir)
      }
    } catch {
      // Swallow (a broken prewarm must not fail the bench — queries
      // rebuild their own state) but NEVER silently: a failed prewarm
      // shifts its cost into the first measured query, and that
      // accounting shift has to be visible in the run log.
      case t: Throwable =>
        System.err.println(
          s"[graft.Bench] PREWARM FAILED — ${t.getClass.getName}: " +
            s"${t.getMessage}; its cost now lands inside the first " +
            "measured query of each affected family")
    }
    // ACCOUNTING CONVENTION (see BASELINE.md "Bench accounting"):
    // index-class state — GraphX kernel views, ALS factors, IVF/PQ
    // layouts, edge-store generations — is ingest-side work a long-lived
    // service builds once, so it is prewarmed OUT of measurement above.
    // Propagation ROUND-STATES (components/LPA/k-core/PPR fixed points)
    // are query-side work and stay MEASURED, first-paid inside the query
    // that first needs them (today: convergence_audit, which amortizes
    // four families' states for their serving rows).
    // Shuffle bytes written per query, summed over the executed COUNT
    // action's exchanges (AQE stages traversed): wall time on a shared
    // host swings 2-4× with background load, but shuffle volume is a
    // property of the PLAN — the noise-immune efficiency signal for
    // cross-run comparison. The count's QueryExecution arrives through a
    // listener (the action plans its own execution; the query frame's
    // plan handle never runs), delivered async → bounded poll AFTER the
    // timing stops. Defensive throughout: metrics must never fail or
    // skew the bench.
    val capturedQe = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          if (funcName == "count") capturedQe.set(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    def shuffleBytesOf(
        qe: org.apache.spark.sql.execution.QueryExecution): Long =
      try {
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(s.plan)
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
            e.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L) +
              e.children.map(walk).sum
          case other => other.children.map(walk).sum
        }
        walk(qe.executedPlan)
      } catch { case _: Throwable => -1L }
    def stealPct(before: Option[(Long, Long)],
                 after: Option[(Long, Long)]): Double =
      (before, after) match {
        case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
          (s1 - s0) * 100.0 / (t1 - t0)
        case _ => -1.0
      }
    val runTicks0 = cpuTicks()
    // Interleaved calibration slices (VERDICT r14 item 2): the single
    // 2-second pre-run calibration loop is dodged by BURSTY steal — the
    // r14 storm moved totals 20%+ while the one calib sample moved 1.3%,
    // because the burst missed the 2-second window. Fix: repeat a short
    // fixed xorshift slice (5e7 steps, ~100 ms on this host) between
    // every SLICE_EVERY measured queries and report the full
    // distribution, so a burst that lands mid-run is visible in the
    // calibration record itself. Slices run OUTSIDE every timed window
    // (between queries); total overhead ~1.5 s over a ~200 s run.
    val sliceSteps = 50000000L
    val sliceEvery = 16
    val calibSlices = scala.collection.mutable.ArrayBuffer.empty[Long]
    def calibSlice(): Unit = {
      var x = 0x9E3779B97F4A7C15L
      val t0 = System.nanoTime()
      var i = 0L
      while (i < sliceSteps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("") // defeat DCE; never taken
      calibSlices += (System.nanoTime() - t0) / 1000000L
    }
    val selected = only match {
      case Some(names) =>
        val unknown = names.diff(SparkEntry.queries.keySet)
        if (unknown.nonEmpty)
          System.err.println(
            s"[bench] unknown queries ignored: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // A stray listener event from the PREVIOUS query (delivered async)
    // must not be attributed to the next one: drain the listener bus
    // before resetting the capture slot — on the failure path too.
    // listenerBus is private[spark] at compile time but public in
    // bytecode; reflection keeps this metrics-only concern best-effort.
    def drainListeners(): Unit =
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, Long.box(10000L))
      } catch { case _: Throwable => () }
    // Deterministic order keeps per-query numbers comparable across runs.
    // Shuffle files live until their exchange is GC'd (ContextCleaner is
    // reference-triggered), and a large-heap scale run may never GC on
    // its own — accumulated spill from finished queries then fills the
    // disk under a later one (observed at the 100× slice: ENOSPC with
    // ~70 GB of dead shuffle files). Opt-in knob for such runs: a full
    // GC between queries lets the cleaner drop them. OUTSIDE the timed
    // window; default off so artifact timings keep their usual JVM shape.
    val gcBetween = sys.env.get("SPARK_GRAFT_GC_BETWEEN").contains("1")
    // A failed query must NOT look like a fast passing one: log the error
    // and record a -1.0 sentinel no timing can produce.
    var sinceSlice = 0
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (gcBetween) { System.gc(); Thread.sleep(500) }
      if (sinceSlice == 0) calibSlice()
      sinceSlice = (sinceSlice + 1) % sliceEvery
      val ticks0 = cpuTicks()
      val t0 = System.nanoTime()
      val (elapsed, shuffled) =
        try {
          val df = fn(spark, sfDir)
          // Re-arm BETWEEN building the frame and the measured count:
          // builders with eager internal counts (memoized layout/index
          // builds, state-gate cardinalities) fire "count" events of
          // their own, and a slot armed before fn() would capture one of
          // those — the poll below would then attribute a tiny internal
          // job's shuffle bytes to the query. Drain so a stray async
          // event from fn()'s internals (or the previous query) cannot
          // land after the reset. The timed window is untouched: the
          // drain cost is inside it, but it is bounded by work the query
          // itself just did.
          drainListeners()
          capturedQe.set(null)
          df.count()
          val elapsed = (System.nanoTime() - t0) / 1e9
          // Poll (outside the timed window) for the async listener event.
          var waited = 0
          while (capturedQe.get() == null && waited < 200) {
            Thread.sleep(10); waited += 1
          }
          (elapsed, Option(capturedQe.get()).map(shuffleBytesOf).getOrElse(-1L))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          (-1.0, -1L)
        }
      // The tick read is microseconds and sits outside the timed window.
      // Both the ratio (steal_pct) and the ABSOLUTE tick delta go into
      // the artifact (VERDICT r14 item 1b): absolute per-query steal
      // makes a dirty run computably salvageable — spread-normalized
      // per-query comparison against a blessed artifact needs the raw
      // stolen-tick mass, which a percentage alone cannot recover once
      // wall time itself is inflated.
      val ticks1 = cpuTicks()
      val qSteal: Long = (ticks0, ticks1) match {
        case (Some((s0, _)), Some((s1, _))) => s1 - s0
        case _ => -1L
      }
      (name, elapsed, shuffled, stealPct(ticks0, ticks1), qSteal)
    }
    val timings = results.map { case (n, t, _, _, _) => (n, t) }
    val failed = timings.count(_._2 < 0)
    if (failed > 0)
      System.err.println(s"[bench] $failed quer${if (failed == 1) "y" else "ies"} failed")
    // Host load (1-min avg) at the end of the run: timings on this box
    // swing 2-4× under background load (measured: the same query 1.7 s
    // quiet vs 8.0 s loaded within one hour), so the artifact carries
    // the context needed to judge cross-run comparisons. -1 if the
    // platform bean can't report.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // total excludes failures (a broken query must not shrink it to look
    // like a speedup), so machine consumers need the failure count IN the
    // JSON, not just on stderr.
    val total = timings.filter(_._2 >= 0).map(_._2).sum
    // Locale-pinned: default-locale %f emits comma decimals on e.g. de_DE,
    // which would make the one stdout JSON line unparseable.
    def fmt(v: Double, decimals: Int) =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    val runSteal = stealPct(runTicks0, cpuTicks())
    // Self-stamped provenance verdict (r8 advice #7): the clean-gate
    // computation used to live only in tools/bench_clean.sh, so an
    // artifact from a direct `graft.Bench` run (the driver's own path)
    // carried no verdict at all. Same gate, computed in-process: zero
    // failed queries, ambient load under 1 at start, and steal ticks
    // over the whole run (warm-up included, the external bracket's
    // window) under the core-scaled 0.5% budget — hostCores × 100
    // ticks/s × 0.005 per wall-second, matching the r14-tightened gate
    // in tools/bench_clean.sh (the 2% budget admitted 0.55 cores of
    // continuous steal and inflated a total ~45 s). bench_clean.sh
    // re-stamps with its strictly wider JVM-external bracket; when both
    // run, the script's verdict (written last) wins — conservative order.
    val wallS = math.max(1L, (System.currentTimeMillis() - wallStartMs) / 1000)
    val stealTicks: Long = (mainTicks0, cpuTicks()) match {
      case (Some((s0, _)), Some((s1, _))) => s1 - s0
      case _ => -1L
    }
    // The aggregate `cpu` line in /proc/stat sums over ALL host cores,
    // so the 2% budget must scale by the host's core count (number of
    // cpuN lines), NOT by SPARK_GRAFT_CPUS: on a host with more cores
    // than the allotment a cpus-scaled budget would under-count real
    // steal pressure. Fallback to the allotment only if /proc/stat is
    // unreadable (in which case stealTicks is -1 and the gate fails
    // closed anyway).
    val hostCores: Long = procStat(_.count(_.matches("cpu\\d+\\s.*")))
      .filter(_ > 0).getOrElse(cpus).toLong
    val stealBudget = wallS * hostCores / 2
    // Fail CLOSED on missing steal data: an artifact that cannot prove
    // its bracket was quiet must not self-certify as clean.
    val clean = failed == 0 && loadStart < 1.0 &&
      stealTicks >= 0 && stealTicks < stealBudget
    // Perf-drift audit (the bench-side twin of the registry's
    // correctness-drift audits): name every measured query over 2× its
    // wall in the BLESSED clean artifact (BENCH_BLESSED.json — updated
    // only when tools/bench_clean.sh blesses a clean:true full run), so
    // a silent regression is as loud in BENCH_r{N}.json as a hash
    // mismatch is in CORRECTNESS. Round-11's 3-6× MinHash slowdown
    // shipped precisely because nothing compared per-query walls across
    // rounds. Full runs only — a targeted SPARK_GRAFT_ONLY run
    // re-distributes memoized first-pay costs and its ratios mislead.
    // Sub-second rows are skipped (scheduler noise dominates there), as
    // is everything when the run itself is not clean (ambient steal
    // would name innocent queries).
    // host_factor rides along: the median of THIS run's per-query wall
    // over its blessed wall, across every shared query over 0.3 s
    // blessed. A global host slowdown (hypervisor throttling this box
    // exhibits in day-scale windows — round 12 measured untouched
    // queries at a uniform median 1.34×) moves the median; an engine
    // regression moves its own queries against it. Judge drift rows
    // relative to this number.
    // calib_ratio rides along with host_factor: this run's Spark-free CPU
    // calibration over the blessed artifact's. host_factor_norm =
    // host_factor / calib_ratio is the CALIBRATION-NORMALIZED drift — the
    // number that separates "the host is slower" (calib moved too, norm
    // ≈ 1) from "the engine is slower" (calib flat, norm ≈ host_factor).
    // -1 when either side lacks a calibration stamp.
    // Per-family sub-timings of convergence_audit (VERDICT r12 item 7):
    // the row is the bench's largest and first-pays four propagation
    // families — the artifact carries each family's wall so the drift
    // gate can name the family, not just the lump.
    val convFams: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      graph.GraphRegistry.convergenceFamilyMs.asScala.toMap
    }
    val convJson = convFams.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val (perfDrift, hostFactor, calibRatio): (String, Double, Double) =
      if (only.nonEmpty || !clean) ("[]", -1.0, -1.0)
      else try {
        val p = java.nio.file.Paths.get("BENCH_BLESSED.json")
        if (!java.nio.file.Files.exists(p)) ("[]", -1.0, -1.0)
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = om.readTree(new String(
            java.nio.file.Files.readAllBytes(p), "UTF-8"))
          val qn = root.get("queries")
          def blessedOf(n: String): Double =
            Option(qn).flatMap(q => Option(q.get(n)))
              .map(_.asDouble(-1.0)).getOrElse(-1.0)
          val drifted = timings.filter { case (n, t) =>
            val b = blessedOf(n)
            b > 0 && t > 1.0 && t > 2.0 * b
          }
          val ratios = timings.collect {
            case (n, t) if t > 0 && blessedOf(n) > 0.3 => t / blessedOf(n)
          }.sorted
          val median =
            if (ratios.isEmpty) -1.0 else ratios(ratios.length / 2)
          val blessedCalib = Option(root.get("calib"))
            .flatMap(c => Option(c.get("cpu_ms")))
            .map(_.asDouble(-1.0)).getOrElse(-1.0)
          val cr =
            if (blessedCalib > 0 && calibCpuMs > 0) calibCpuMs / blessedCalib
            else -1.0
          // Family-level drift inside convergence_audit: >2× its blessed
          // wall AND over 1 s (the query-level thresholds, per family).
          val bfam = Option(root.get("convergence_families"))
          val famDrift = convFams.toSeq.sorted.flatMap { case (fam, ms) =>
            val b = bfam.flatMap(n => Option(n.get(fam)))
              .map(_.asLong(-1L)).getOrElse(-1L)
            if (b > 0 && ms > 1000 && ms > 2 * b)
              Some(s"""{"q":"convergence_audit:$fam","sec":${fmt(ms / 1000.0, 2)},"blessed":${fmt(b / 1000.0, 2)}}""")
            else None
          }
          // Worst 12 rows only: perf_drift sits in the FIXED section of
          // the bounded stdout line (the self-budgeting below can only
          // trim the queries map), so an across-the-board drift must not
          // push the line past the harness tail. Full per-query walls
          // are in the file artifact either way.
          (((drifted.sortBy { case (n, t) =>
            (-(t / blessedOf(n)), n)
          }.take(12).map { case (n, t) =>
            val b = qn.get(n).asDouble()
            s"""{"q":"$n","sec":${fmt(t, 2)},"blessed":${fmt(b, 2)}}"""
          }) ++ famDrift).mkString("[", ",", "]"), median, cr)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] perf-drift audit failed: $e")
        ("[]", -1.0, -1.0)
      }
    val hostFactorNorm =
      if (hostFactor > 0 && calibRatio > 0) hostFactor / calibRatio else -1.0
    // Compact slice summary for the bounded stdout line (full array is
    // in the file dump): a quiet run has max ≈ med; a burst mid-run
    // shows as max far above med even when the pre-run calib was clean.
    val sliceSummary = {
      val s = calibSlices.toSeq.sorted
      if (s.isEmpty) """{"n":0}"""
      else s"""{"n":${s.length},"min":${s.head},"med":${s(s.length / 2)},"max":${s.last}}"""
    }
    val cleanGate =
      s""""clean":$clean,"clean_gate":{"steal_ticks":$stealTicks,"wall_s":$wallS,"steal_budget_ticks":$stealBudget,"host_cores":$hostCores,"load_avg_start_max":1.0},"calib":{"cpu_ms":$calibCpuMs,"io_ms":$calibIoMs,"io_bytes":$calibIoBytes},"calib_slice_summary":$sliceSummary,"convergence_families":$convJson,"perf_drift":$perfDrift,"host_factor":${fmt(hostFactor, 2)},"calib_ratio":${fmt(calibRatio, 3)},"host_factor_norm":${fmt(hostFactorNorm, 2)}"""
    def line(qs: Seq[(String, Double)], decimals: Int, extra: String) = {
      val body = qs.map { case (k, v) =>
        "\"" + k + "\":" + fmt(v, decimals)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","failed":$failed,$cleanGate,"load_avg_start":${fmt(loadStart, 2)},"load_avg":${fmt(loadAvg, 2)},"steal_pct":${fmt(runSteal, 2)}$extra,"queries":$body,"sf":"$sfDir"}"""
    }
    // Full-precision per-query record → a repo file (the harness only
    // captures a bounded stdout tail, which the full map overflows).
    try {
      val fullBody = timings.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val shuffleBody = results
        .map { case (k, _, s, _, _) => "\"" + k + "\":" + s }
        .mkString("{", ",", "}")
      val stealBody = results
        .map { case (k, _, _, sp, _) => "\"" + k + "\":" + sp }
        .mkString("{", ",", "}")
      val stealTicksBody = results
        .map { case (k, _, _, _, st) => "\"" + k + "\":" + st }
        .mkString("{", ",", "}")
      val slicesBody = calibSlices.mkString("[", ",", "]")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_FULL_LATEST.json"),
        s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,$cleanGate,"load_avg_start":$loadStart,"load_avg":$loadAvg,"steal_pct":$runSteal,"n_queries":${results.size},"queries":$fullBody,"shuffle_bytes":$shuffleBody,"steal_pct_per_query":$stealBody,"steal_ticks_per_query":$stealTicksBody,"calib_slices":{"steps":$sliceSteps,"every":$sliceEvery,"ms":$slicesBody},"sf":"$sfDir"}""".getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full dump failed: $e")
    }
    // The ONE stdout JSON line must fit the harness's 2000-char tail
    // (with sbt's trailer after it) or it is unparseable: emit the
    // slowest queries first and stop adding entries at the budget — the
    // fast tail carries no grading signal; the full map is in the file.
    val budget = 1800
    val bySlowest = timings.sortBy { case (n, t) => (-t, n) }
    var kept = bySlowest.length
    def extra(k: Int) =
      s""","n_queries":${results.size},"shown":$k,"full":"BENCH_FULL_LATEST.json""""
    while (kept > 1 &&
      line(bySlowest.take(kept), 3, extra(kept)).length > budget) kept -= 1
    println(line(bySlowest.take(kept), 3, extra(kept)))
    spark.stop()
  }
}
