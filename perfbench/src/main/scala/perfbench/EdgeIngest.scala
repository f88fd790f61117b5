package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, expr, lit, when}

import graft.streaming.EventStreams
import perfbench.Main.{Ctx, Report}

/** The ingest half of `registry_ingest`: the write path of the
  * generational edge store. The spec file lists time slices of the
  * events, `slice <pass> <from_us> <until_us>` (half-open, in order);
  * every pass has its own window of the events and its own fresh store.
  * Each slice goes through `dedupedBehavioralEdges`, `mergeEdgeBatch` and
  * `maybeCompactEdgeStore` into the pass's store; in the last pass every
  * commit is followed by a snapshot read (`edgeStore(...).count()`).
  * Commit `i` of every pass is one operation with one sample per pass.
  */
final class EdgeIngest(ctx: Ctx, rep: Report) {
  import Main._

  private val spark = ctx.spark
  private val slices: Seq[(Int, Long, Long)] =
    scala.io.Source.fromFile(ctx.opts.spec).getLines()
      .map(_.trim.split(" ")).collect { case Array("slice", p, a, b) =>
        (p.toInt, a.toLong, b.toLong) }.toSeq
  val passes: Seq[Int] = slices.map(_._1).distinct
  private val events = graft.Tables.load(spark, ctx.opts.data, "events")
  private def batch(rs: Seq[(Long, Long)]): DataFrame = {
    def in(r: (Long, Long)) =
      expr("unix_micros(ts)") >= r._1 && expr("unix_micros(ts)") < r._2
    EventStreams.dedupedBehavioralEdges(events.filter(rs.map(in).reduce(_ || _)))
  }
  private def store(name: String) = new java.io.File(ctx.opts.work, name).getPath

  private val commitMs = mutable.ArrayBuffer[Double]()
  private val mergeMs = mutable.ArrayBuffer[Double]()
  private val compactMs = mutable.ArrayBuffer[Double]()
  private val readMs = mutable.ArrayBuffer[Double]()
  private val readFiles = mutable.ArrayBuffer[Double]()
  private val committed = mutable.ArrayBuffer[(Int, Long, Long)]()
  private var writes = Tracer.Zero

  /** One timed pass: the slices of pass `p`, in order, into a fresh
    * store. With `read`, every commit is followed by a snapshot read,
    * timed for the per-layer figures but not part of the pass. */
  def pass(p: Int, read: Boolean): Unit = {
    val dir = store(s"store-$p")
    for (((_, lo, hi), i) <- slices.filter(_._1 == p).zipWithIndex) {
      val key = s"commit$i"
      val before = ctx.snap()
      val ok = if (ctx.pastDeadline) {
        rep.op(key, rep.fail(s"merge [$lo, $hi): not started by the deadline"))
        false
      } else try {
        val (_, m) = time(EventStreams.mergeEdgeBatch(batch(Seq(lo -> hi)), dir))
        val (folded, c) = time(EventStreams.maybeCompactEdgeStore(spark, dir))
        mergeMs += m
        if (folded) compactMs += c
        commitMs += m + c
        rep.op(key, m + c)
        committed += ((p, lo, hi))
        true
      } catch {
        case NonFatal(e) =>
          rep.op(key, rep.fail(s"merge [$lo, $hi): ${e.getClass.getName}: ${e.getMessage}"))
          false
      }
      writes = writes + (ctx.snap() - before)
      if (ok && read) rep.untimed {
        val (_, r) = time(EventStreams.edgeStore(spark, dir).count())
        readMs += r
        readFiles += EventStreams.edgeStore(spark, dir).inputFiles.length
      }
    }
  }

  /** Output check, after the timed passes: every pass's store holds
    * exactly the batch dedup of the events of its committed slices
    * (nothing lost, nothing extra). Then the per-layer figures. */
  def check(): Unit = {
    val done = committed.map(_._1).distinct.toSeq
    if (done.isEmpty) return
    val keys = Seq("pass", "user_id", "product_id", "rel_type")
    val live = done.map(p => EventStreams.edgeStore(spark, store(s"store-$p"))
      .withColumn("pass", lit(p))).reduce(_ unionByName _).select(keys.map(col): _*)
    val expected = done.map(p => batch(committed.filter(_._1 == p).map(c => c._2 -> c._3).toSeq)
      .withColumn("pass", lit(p))).reduce(_ unionByName _).select(keys.map(col): _*)
    val diff = live.withColumn("in_store", lit(1))
      .join(expected.withColumn("expected", lit(1)), keys, "full_outer")
      .agg(count(col("in_store")), count(when(col("in_store").isNull, 1)),
        count(when(col("expected").isNull, 1)))
      .head()
    val (liveN, missing, extra) = (diff.getLong(0), diff.getLong(1), diff.getLong(2))
    if (missing != 0 || extra != 0)
      rep.wrong(s"stores hold $liveN edges: $missing missing, $extra unexpected")
    val storeBytes = done.flatMap(p => EventStreams.edgeStore(spark, store(s"store-$p"))
      .inputFiles).map(f => new java.io.File(new java.net.URI(f)).length).sum

    val perEdge = math.max(1L, liveN).toDouble
    rep.layer("store.merge_ms") = median(mergeMs.toSeq)
    rep.layer("store.compact_ms") = median(compactMs.toSeq)
    rep.layer("store.folds") = compactMs.size.toDouble / done.size
    rep.layer("store.jobs_per_batch") = writes.jobs.toDouble / committed.size
    rep.layer("store.read_ms") = median(readMs.toSeq)
    rep.layer("store.read_tail_ms") = quantile(readMs.toSeq, TailQ)
    rep.layer("store.read_files") = median(readFiles.toSeq)
    rep.layer("store.edges_per_s") = liveN / math.max(1e-9, commitMs.sum / 1000.0)
    rep.layer("store.bytes_written_per_edge") = writes.outputBytes / perEdge
    rep.layer("store.bytes_per_edge") = storeBytes / perEdge
  }
}
