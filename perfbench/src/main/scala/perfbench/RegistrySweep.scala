package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import perfbench.Main.{Ctx, Report}

object RegistrySweep {

  type Query = (SparkSession, String) => DataFrame

  /** Registry modules, named after their packages. */
  val Modules: Seq[(String, graft.Registry)] = Seq(
    "operators" -> (graft.operators.RecsRegistry.registry ++
      graft.operators.RelationalRegistry.registry),
    "graph" -> graft.graph.GraphRegistry.registry,
    "text" -> graft.text.TextRegistry.registry,
    "dedup" -> graft.dedup.DedupRegistry.registry,
    "similarity" -> graft.similarity.SimilarityRegistry.registry,
    "streaming" -> graft.streaming.StreamingRegistry.registry,
    "multimodal" -> graft.multimodal.MultimodalRegistry.registry,
    "sources" -> graft.sources.SourcesRegistry.registry,
    "pipeline" -> graft.pipeline.CurationRegistry.registry)

  /** Canonical text of one value: exact doubles, hex bytes, UTC instants,
    * so the hash depends on the result only. */
  def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case t: java.sql.Timestamp => s"ts${t.toInstant}"
    case d: java.sql.Date => s"d${d.toLocalDate}"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((canon(r) + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** The registry half of `registry_ingest`: registry rows in name order,
  * single client. Each row is timed as one `collect()` of its result,
  * which is then hashed (outside the timing) and compared with a pinned
  * value. The spec file lists the rows, one `row <name> <sha256 or ->`
  * per line. [[prewarmTasks]] run every row twice in set-up, so each
  * pays the state it first needs (shelves, graphs, fingerprints) there;
  * every timed [[pass]] then runs each row once more.
  */
final class RegistrySweep(ctx: Ctx, rep: Report) {
  import Main._
  import RegistrySweep._

  private val spark = ctx.spark
  private val dir = ctx.opts.data
  private val moduleOf: Map[String, (String, Query)] = Modules.flatMap {
    case (m, reg) => reg.queries.map { case (n, q) => n -> (m, q) } }.toMap
  private val rows: Seq[(String, String, String, Query)] = {
    val spec = scala.io.Source.fromFile(ctx.opts.spec).getLines()
      .map(_.trim.split(" ")).collect { case Array("row", n, h) => (n, h) }
      .toSeq
    val unknown = spec.map(_._1).filterNot(moduleOf.contains)
    if (unknown.nonEmpty) rep.wrong(s"unknown rows: ${unknown.mkString(" ")}")
    spec.flatMap { case (n, h) => moduleOf.get(n).map { case (m, q) => (n, h, m, q) } }
  }
  private val acc = mutable.Map[String, Tracer.Snap]().withDefaultValue(Tracer.Zero)
  private val hashes = mutable.LinkedHashMap[String, String]()
  private val prewarmMs = mutable.Map[String, Double]().withDefaultValue(0.0)

  /** One row: collect and check its result; returns the wall in ms, or
    * the exception it threw. */
  private def runRow(name: String, pinned: String, q: Query): Either[Throwable, Double] = {
    val (timed, ms) = time(try Right(q(spark, dir).collect())
      catch { case NonFatal(e) => Left(e) })
    timed.map { result =>
      rep.untimed {
        val h = hash(result)
        synchronized(hashes(name) = h)
        if (pinned != "-" && h != pinned)
          rep.wrong(s"$name hashes to $h, pinned $pinned")
      }
      ms
    }
  }

  /** Set-up tasks: every row twice, untimed. The first run pays the
    * state the row first needs, and its wall counts toward
    * `setup.prewarm_s.<module>`; the second compiles the plans and code
    * of the warm row, so the first timed pass is as warm as the second.
    * A row that throws here fails the output check. */
  def prewarmTasks: Seq[() => Unit] = rows.map { case (name, pinned, module, q) =>
    () => runRow(name, pinned, q) match {
      case Left(e) => rep.wrong(s"$name throws in set-up: ${e.getMessage}")
      case Right(ms) =>
        synchronized(prewarmMs(module) += ms)
        runRow(name, pinned, q)
    }
  }

  /** One timed pass: every row once, one latency sample each. */
  def pass(): Unit =
    for ((name, pinned, module, q) <- rows) {
      if (ctx.pastDeadline) rep.op(name, rep.fail(s"$name: not started by the deadline"))
      else {
        val before = ctx.snap()
        val res = runRow(name, pinned, q)
        acc(module) = acc(module) + (ctx.snap() - before)
        res match {
          case Left(e) => rep.op(name, rep.fail(s"$name: ${e.getClass.getName}: ${e.getMessage}"))
          case Right(ms) => rep.op(name, ms)
        }
      }
    }

  /** Per-layer figures: walls are sums of the rows' latencies (fastest
    * sample); engine counters are per pass. */
  def report(passes: Int): Unit = {
    for ((m, _) <- Modules) rep.layer(s"setup.prewarm_s.$m") = prewarmMs(m) / 1000.0
    val rowMs = rows.map(_._1).distinct.flatMap(n => rep.samples.get(n).map(s => n -> s.min))
    rep.layer("registry.total_s") = rowMs.map(_._2).sum / 1000.0
    for ((m, _) <- Modules) {
      val s = acc(m); val n = math.max(1, passes).toDouble
      rep.layer(s"$m.wall_s") =
        rowMs.filter(r => moduleOf(r._1)._1 == m).map(_._2).sum / 1000.0
      rep.layer(s"$m.jobs") = s.jobs / n
      rep.layer(s"$m.plan_ms") = s.planMs / n
      rep.layer(s"$m.exec_cpu_ms") = s.execCpuMs / n
      rep.layer(s"$m.shuffle_bytes") = s.shuffleBytes / n
      rep.layer(s"$m.driver_gap_ms") = s.driverGapMs / n
    }
    rep.extra("hashes") = hashes.map { case (n, h) => s""""$n": "$h"""" }
      .mkString("{", ", ", "}")
  }
}
